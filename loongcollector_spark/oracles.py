"""DuckDB oracle SQL for each driver-checked query.

Every oracle derives the same synthetic sequences from the pre-registered
`events` view (synth.sequences_cte — byte-identical line construction) and
re-expresses the operator in ANSI/DuckDB SQL. Column names/aliases match the
Spark side exactly (the driver hash-compares by sorted column name).
"""

from __future__ import annotations

from .flagship import CSV_KEYS, NGINX_KEYS, NGINX_REGEX
from .operators.parse import re2_pattern
from .synth import sequences_cte, source_lookup_values_sql


def _q(s: str) -> str:
    """Escape a regex/text for embedding in a single-quoted DuckDB literal
    (DuckDB standard strings don't process backslashes)."""
    return s.replace("'", "''")


SEQ = f"WITH seq AS ({sequences_cte('events')})"

# RE2 (DuckDB) reads \s and `.` unlike java.util.regex: the translation keeps
# Java's sets, so the oracle accepts exactly the lines RegexParser accepts
NGINX_ANCHORED = re2_pattern(NGINX_REGEX)
_RX = _q(NGINX_ANCHORED)

# DuckDB's positional regexp_extract caps at group 9; the named-list form
# returns a struct and supports all 11 nginx groups.
_NGINX_LIST = "[" + ", ".join(f"'{k}'" for k in NGINX_KEYS) + "]"
_NGINX_STRUCT = f"regexp_extract(line, '{_RX}', {_NGINX_LIST})"

_NGINX_EXTRACTS = ",\n  ".join(f"g.{k} AS {k}" for k in NGINX_KEYS)

_NGINX_EXTRACTS_NULLABLE = ",\n  ".join(
    f"CASE WHEN matched THEN g.{k} END AS {k}" for k in NGINX_KEYS
)


def nginx_parsed_cte() -> str:
    """Matched nginx rows with all 11 keys extracted (discard-unmatch)."""
    return (
        f"SELECT doc_id, source, n_tok, {_NGINX_EXTRACTS} FROM ("
        f"SELECT doc_id, source, n_tok, {_NGINX_STRUCT} AS g "
        f"FROM seq WHERE source = 'nginx' AND regexp_matches(line, '{_RX}')) nginx_g"
    )


# --- flagship ---------------------------------------------------------------


def flagship_parsed_cte() -> str:
    """All successfully parsed events across the three sources (only the
    columns the aggregate needs)."""
    return (
        "SELECT doc_id, source, n_tok FROM seq WHERE "
        f"(source = 'nginx' AND regexp_matches(line, '{_RX}')) "
        "OR source IN ('app-json', 'csvlog')"
    )


def oracle_pipeline_aggregates() -> str:
    return f"""{SEQ},
parsed AS ({flagship_parsed_cte()}),
enriched AS (
  SELECT p.*, source_lookup.team_tag, source_lookup.env, source_lookup.route_key
  FROM parsed p JOIN {source_lookup_values_sql()} ON p.source = source_lookup.source
),
routed AS (
  SELECT 'sink_a' AS sink, * FROM enriched WHERE env = 'prod'
  UNION ALL
  SELECT 'sink_b' AS sink, * FROM enriched WHERE team_tag = 'team-b'
  UNION ALL
  SELECT 'sink_default' AS sink, * FROM enriched
)
SELECT sink, count(*) AS events, CAST(sum(n_tok) AS BIGINT) AS tokens_total
FROM routed GROUP BY sink ORDER BY sink"""


def oracle_routed_rows() -> str:
    return f"""{SEQ},
parsed AS ({flagship_parsed_cte()}),
enriched AS (
  SELECT p.*, source_lookup.team_tag, source_lookup.env, source_lookup.route_key
  FROM parsed p JOIN {source_lookup_values_sql()} ON p.source = source_lookup.source
)
SELECT sink, doc_id, source, route_key, env, team_tag FROM (
  SELECT 'sink_a' AS sink, * FROM enriched WHERE env = 'prod'
  UNION ALL
  SELECT 'sink_b' AS sink, * FROM enriched WHERE team_tag = 'team-b'
  UNION ALL
  SELECT 'sink_default' AS sink, * FROM enriched
)"""


def oracle_drop_counts() -> str:
    return f"""{SEQ}
SELECT source,
  count(*) AS input_events,
  CAST(sum(CASE WHEN source <> 'nginx' OR regexp_matches(line, '{_RX}') THEN 1 ELSE 0 END) AS BIGINT) AS parsed_events,
  CAST(sum(CASE WHEN source = 'nginx' AND NOT regexp_matches(line, '{_RX}') THEN 1 ELSE 0 END) AS BIGINT) AS dropped
FROM seq GROUP BY source ORDER BY source"""


# --- individual operators ----------------------------------------------------


def oracle_parse_regex_discard() -> str:
    return f"{SEQ}\n{nginx_parsed_cte()}"


def oracle_parse_regex_keep() -> str:
    return f"""{SEQ}
SELECT doc_id, {_NGINX_EXTRACTS_NULLABLE},
  CASE WHEN NOT matched THEN line END AS raw_log
FROM (
  SELECT doc_id, line, regexp_matches(line, '{_RX}') AS matched, {_NGINX_STRUCT} AS g
  FROM seq WHERE source = 'nginx') nginx_g"""


def oracle_parse_json() -> str:
    return f"""{SEQ}
SELECT doc_id,
  json_extract_string(line, '$.url') AS url,
  json_extract_string(line, '$.status') AS status,
  json_extract_string(line, '$.qty') AS qty,
  json_extract_string(line, '$.cached') AS cached,
  coalesce(json_extract_string(line, '$.note'), '') AS note
FROM seq WHERE source = 'app-json'"""


def oracle_parse_delimiter() -> str:
    cols = ",\n  ".join(
        f"split_part(line, chr(9), {i + 1}) AS {k}" for i, k in enumerate(CSV_KEYS)
    )
    return f"{SEQ}\nSELECT doc_id, {cols} FROM seq WHERE source = 'csvlog'"


def oracle_dict_map() -> str:
    return f"""{SEQ}
SELECT doc_id, source,
  CASE source
    WHEN 'nginx' THEN 'web'
    WHEN 'csvlog' THEN 'trade'
    ELSE NULL END AS category
FROM seq"""


def oracle_filter_expression() -> str:
    return f"""{SEQ},
parsed AS ({nginx_parsed_cte()})
SELECT doc_id, method, status FROM parsed
WHERE (status = '404' AND method = 'GET') OR status = '500'"""


def oracle_desensitize_const() -> str:
    return f"""{SEQ}
SELECT doc_id,
  regexp_replace(line, '(curl/)(?:[0-9.]+)', '\\1***', 'g') AS content
FROM seq WHERE source = 'nginx'"""


def oracle_desensitize_md5() -> str:
    # first-occurrence splice: prefix 'uid=' content digits → md5 hex
    rx = _q("(user-)(?:[0-9]+)")
    return f"""{SEQ},
pre AS (
  SELECT doc_id, 'GET /api/x?u=user-' || (length(line) % 100) || '&v=2' AS content FROM seq WHERE source = 'nginx'
)
SELECT doc_id,
  CASE WHEN regexp_extract(content, '{rx}', 0) = '' THEN content
  ELSE
    substring(content, 1, strpos(content, regexp_extract(content, '{rx}', 0)) - 1)
    || regexp_extract(content, '{rx}', 1)
    || upper(md5(substring(regexp_extract(content, '{rx}', 0), length(regexp_extract(content, '{rx}', 1)) + 1)))
    || substring(content, strpos(content, regexp_extract(content, '{rx}', 0)) + length(regexp_extract(content, '{rx}', 0)))
  END AS content_masked
FROM pre"""


def oracle_kv_split() -> str:
    return f"""{SEQ},
kv AS (
  SELECT doc_id, 'uid:u' || (n_tok % 50) || chr(9) || 'src:' || source || chr(9) || 'len:' || n_tok AS content
  FROM seq
)
SELECT doc_id,
  split_part(split_part(content, chr(9), 1), ':', 2) AS uid,
  split_part(split_part(content, chr(9), 2), ':', 2) AS src,
  split_part(split_part(content, chr(9), 3), ':', 2) AS len
FROM kv"""


def oracle_rate_limit() -> str:
    return f"""{SEQ},
parsed AS (SELECT doc_id, split_part(line, chr(9), 3) AS cmethod FROM seq WHERE source = 'csvlog')
SELECT doc_id, cmethod FROM parsed
QUALIFY row_number() OVER (PARTITION BY cmethod ORDER BY doc_id) <= 5"""


def oracle_transform_chain() -> str:
    return f"""{SEQ}
SELECT doc_id,
  'prod' AS env,
  source AS origin,
  CAST(n_tok AS VARCHAR) AS len_str
FROM seq WHERE source <> 'nginx'"""


# --- batch A: split/merge, extended parsers, aggregator queries --------------

# Shared synthetic blob for line splitting: three lines per event.
_BLOB = "('A ' || event_type || chr(10) || 'B ' || user_id || chr(10) || 'C end')"


def oracle_split_lines() -> str:
    return f"""WITH ev AS (
  SELECT 'doc-' || lpad(cast(event_id AS varchar), 8, '0') AS doc_id,
         string_split({_BLOB}, chr(10)) AS lines
  FROM events
)
SELECT doc_id,
  unnest(range(0, len(lines))) AS line_no,
  unnest(lines) AS line
FROM ev"""


def oracle_multiline_records() -> str:
    # ground-truth construction: even event_id docs have two records, odd one
    return """WITH ev AS (
  SELECT 'doc-' || lpad(cast(event_id AS varchar), 8, '0') AS doc_id,
         event_id, event_type, user_id
  FROM events
)
SELECT doc_id, 'ERROR ' || event_type || chr(10) || ' at 1:' || user_id AS record FROM ev
UNION ALL
SELECT doc_id, 'ERROR tail' || chr(10) || ' at 2' AS record FROM ev WHERE event_id % 2 = 0"""


def oracle_parse_apsara() -> str:
    return """WITH ev AS (
  SELECT 'doc-' || lpad(cast(event_id AS varchar), 8, '0') AS doc_id,
         event_id, event_type, user_id
  FROM events
)
SELECT doc_id,
  CAST(CAST(1704450030 AS BIGINT) * 1000000 + event_id % 1000000 AS VARCHAR) AS microtime,
  upper(event_type) AS level,
  CAST(user_id AS VARCHAR) AS thread,
  '/build/app.cpp' AS file,
  CAST(event_id % 500 AS VARCHAR) AS line_no,
  'GET' AS method,
  CAST(user_id % 3 AS VARCHAR) AS status
FROM ev"""


def oracle_json_expand() -> str:
    return """WITH ev AS (
  SELECT 'doc-' || lpad(cast(event_id AS varchar), 8, '0') AS doc_id,
         '{"a":{"b":' || user_id || ',"c":{"d":"' || event_type || '"}},"e":"x-' || event_id % 7 || '"}' AS line
  FROM events
)
SELECT doc_id,
  json_extract_string(line, '$.a.b') AS a_b,
  json_extract_string(line, '$.a.c.d') AS a_c_d,
  json_extract_string(line, '$.e') AS e
FROM ev"""


def oracle_parse_csv() -> str:
    # ground truth: field b is the quoted 'event_type, x' text
    return """WITH ev AS (
  SELECT 'doc-' || lpad(cast(event_id AS varchar), 8, '0') AS doc_id,
         event_id, event_type, user_id
  FROM events
)
SELECT doc_id,
  CAST(event_id AS VARCHAR) AS a,
  event_type || ', x' AS b,
  CAST(user_id AS VARCHAR) AS c
FROM ev"""


def oracle_container_log() -> str:
    return """WITH ev AS (
  SELECT 'doc-' || lpad(cast(event_id AS varchar), 8, '0') AS doc_id,
         event_id, event_type, user_id,
         CASE WHEN event_id % 4 = 0 THEN 'stderr' ELSE 'stdout' END AS stream
  FROM events
)
SELECT doc_id,
  '2024-01-05T10:20:30.' || event_id % 1000 || 'Z' AS time_,
  stream AS source_,
  'msg ' || event_type || ' ' || user_id AS content
FROM ev WHERE stream <> 'stderr'"""


def oracle_log_to_metric() -> str:
    return f"""{SEQ},
parsed AS (
  SELECT doc_id,
    split_part(line, chr(9), 1) AS uid,
    split_part(line, chr(9), 3) AS cmethod,
    split_part(line, chr(9), 4) AS value
  FROM seq WHERE source = 'csvlog'
)
SELECT doc_id,
  'cmethod#$#' || cmethod || '|uid#$#' || uid AS __labels__,
  'bytes' AS __name__,
  CAST(value AS DOUBLE) AS __value__
FROM parsed"""


def oracle_shardhash() -> str:
    # bucket = top 3 bits of md5(doc_id||source) = hexval(first hex char) // 2
    return f"""{SEQ},
b AS (
  SELECT strpos('123456789abcdef', substring(md5(doc_id || source), 1, 1)) // 2 AS bucket
  FROM seq
)
SELECT CAST(bucket AS INTEGER) AS bucket, count(*) AS events
FROM b GROUP BY bucket ORDER BY bucket"""


def oracle_content_value_group() -> str:
    return f"""{SEQ},
parsed AS (
  SELECT doc_id, source, split_part(line, chr(9), 3) AS cmethod
  FROM seq WHERE source = 'csvlog'
)
SELECT source || '_' || cmethod AS group_topic, count(*) AS events
FROM parsed GROUP BY group_topic ORDER BY group_topic"""


def oracle_pipeline_from_config() -> str:
    return f"""{SEQ},
parsed AS ({nginx_parsed_cte()})
SELECT sink, count(*) AS events FROM (
  SELECT 'sink_4xx' AS sink FROM parsed WHERE status = '404'
  UNION ALL
  SELECT 'sink_all' AS sink FROM parsed
) GROUP BY sink ORDER BY sink"""


def oracle_parse_timestamp() -> str:
    return """SELECT 'doc-' || lpad(cast(event_id AS varchar), 8, '0') AS doc_id,
  CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS epoch_s
FROM events"""


def oracle_transform_chain2() -> str:
    return """WITH ev AS (
  SELECT 'doc-' || lpad(cast(event_id AS varchar), 8, '0') AS doc_id,
         'user=' || user_id || ';note=' || event_type || ';end' AS line
  FROM events
)
SELECT doc_id,
  to_base64(encode(line)) AS b64,
  md5(line) AS sig,
  regexp_replace(line, 'user=\\d+', 'user=***', 'g') AS red,
  split_part(split_part(line, 'note=', 2), ';', 1) AS note,
  '{"sig":"' || md5(line) || '","note":"' || split_part(split_part(line, 'note=', 2), ';', 1) || '"}' AS packed
FROM ev"""


def oracle_filter_key_regex() -> str:
    return """SELECT 'doc-' || lpad(cast(event_id AS varchar), 8, '0') AS doc_id,
  CAST(user_id AS VARCHAR) AS uid
FROM events WHERE event_id % 2 = 0"""


def oracle_rate_limit_windowed() -> str:
    return """SELECT 'doc-' || lpad(cast(event_id AS varchar), 8, '0') AS doc_id,
  event_type AS etype
FROM events
QUALIFY row_number() OVER (
  PARTITION BY event_type, date_trunc('minute', ts) ORDER BY event_id) <= 2"""


def oracle_spl_pipeline() -> str:
    return f"""{SEQ},
parsed AS ({nginx_parsed_cte()})
SELECT method, count(*) AS events FROM parsed
WHERE status = '404' GROUP BY method ORDER BY method"""


def oracle_geoip_range() -> str:
    base = 10 * 16777216
    split = base + 100 * 65536
    top = base + 256 * 65536
    return f"""{SEQ},
parsed AS ({nginx_parsed_cte()}),
ips AS (
  SELECT doc_id, remote_addr AS ip,
    CAST(split_part(remote_addr, '.', 1) AS BIGINT) * 16777216
    + CAST(split_part(remote_addr, '.', 2) AS BIGINT) * 65536
    + CAST(split_part(remote_addr, '.', 3) AS BIGINT) * 256
    + CAST(split_part(remote_addr, '.', 4) AS BIGINT) AS ip_int
  FROM parsed
)
SELECT doc_id, ip,
  CASE WHEN ip_int BETWEEN {base} AND {split - 1} THEN 'region-a'
       WHEN ip_int BETWEEN {split} AND {top - 1} THEN 'region-b'
  END AS region
FROM ips"""


def oracle_token_roundtrip() -> str:
    """The oracle knows the codec is identity: every row must round-trip with
    the same token count and array equality (the Spark side actually
    recomputes both; the oracle pins the expected ground truth)."""
    return f"""{SEQ}
SELECT doc_id, n_tok, n_tok AS n_tok_rt, true AS tokens_equal FROM seq"""


def oracle_regex_router() -> str:
    return f"""{SEQ}
SELECT doc_id,
  CASE
    WHEN regexp_matches(line, '^10\\.') THEN 'web'
    WHEN regexp_matches(line, '^\\{{') THEN 'json'
    ELSE 'other'
  END AS sink
FROM seq"""
