"""InfluxDB line-protocol decoder — the Format=influxdb ingestion surface of
service_http_server / extension default_decoder
(pkg/protocol/decoder/influxdb/decoder.go).

V1 log output (parsePointsToLogs, decoder.go:159-222): one SLS metric-log row
per FIELD with ``__name__`` / ``__time_nano__`` / ``__labels__`` /
``__value__`` (helper.NewMetricLogStringVal, pkg/helper/log_helper.go:268-288)
plus ``__type__`` / ``__field__`` when FieldsExtend (decoder.go:206-216).

Semantics pinned by the reference goldens (decoder_test.go):
- ``__name__`` = measurement for the field named ``value``, else
  ``measurement:field`` (decoder.go:194-199).
- ``__labels__`` = tags sorted by (sanitized) key, ``k#$#v`` joined with
  ``|`` (MetricLabels.String, log_helper.go:209-226).
- value rendering: float via Go ``%g`` (integral floats print without the
  fraction: 1.0 → "1"), int64 verbatim, bool → "1"/"0", strings verbatim and
  only emitted when FieldsExtend (decoder.go:169-192).
- sls_metrics_format (EnableSlsMetricsFormat): metric name keeps
  ``[a-zA-Z0-9_:]`` (others → '_'), label keys keep ``[a-zA-Z0-9_]``, label
  values only have '|' replaced (log_helper.go:289-358) — "cpu.load" →
  "cpu_load", "host.dd" → "host_dd".

Line-protocol grammar (public): ``measurement[,tag=v...] field=v[,...] [ts]``
with ``\\ `` ``\\,`` ``\\=`` escapes in the measurement/tag section and quoted
field strings (``\\"``/``\\\\`` escapes, commas/spaces allowed inside quotes).
Typing: ``123i`` int, ``123u`` unsigned, ``1.5``/``1e3`` float,
``t/T/true/True/TRUE`` (and f/F/...) bool, ``"..."`` string.

Divergences (documented):
- a malformed line is DROPPED (with unparseable float fields dropped
  per-field); the reference fails the whole HTTP batch (Decode returns err) —
  per-line dropping is the table-input analog of a 400 response.
- a line without a timestamp gets ``default_ts_ns`` (0); the reference stamps
  time.Now().UTC() at receive time.
- comment (#) and blank lines are skipped, as in the reference parser.

Float rendering is exact Go %g (gofmt.go_g, shortest digits with the
exponent-form switch at decimal exponent < -4 or >= 6); ``__time_nano__``
goes through NewMetricLogStringVal's digit-count normalization
(normalize_time_nano_col) like every reference metric log.
"""

from __future__ import annotations

from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from .base import FIELDS, Operator
from .common import flet
from .gofmt import go_g

_SEP = "\x01"

# measurement+tags (escaped chars allowed) SP fieldset (quoted strings may
# hold spaces/commas) [SP timestamp]
#
# All repetitions are UNROLLED-LOOP form (`[^x]*(?:\\.[^x]*)*`, never
# `(?:[^x]|\\.)+`): java.util.regex recurses once per iteration of an
# alternation-under-quantifier, so the naive form stack-overflows the
# EXECUTOR JVM on a ~100 KB hostile line (kills the whole job in local
# mode) — found by tests/test_adversarial.py. Char-class loops are
# iterative; the unrolled outer loop iterates per ESCAPE/quoted-string
# occurrence, not per character. Same language, bounded stack.
# …and the unrolled OUTER loops still recurse once per escape/quoted-string
# occurrence, so they are capped at {0,200}: a backslash-flood line
# ("\a"×50k) would otherwise still overflow the stack. >200 escapes in one
# token is no real producer — such a line fails the match and is dropped.
_QUOTED = r"\"[^\"\\]*(?:\\.[^\"\\]*){0,200}\""
_LINE_RX = (
    r"^([^ \\]*(?:\\.[^ \\]*){0,200}) "
    rf"([^ \"]*(?:{_QUOTED}[^ \"]*){{0,200}})"
    r"(?: (-?\d+))?$"
)
# one field per match: key (escapes, no bare = , ,) '=' value (quoted string
# or unquoted token); empty keys are filtered at the use site
_FIELD_RX = (
    r"(?:^|,)([^=,\\ ]*(?:\\.[^=,\\ ]*){0,200})="
    rf'({_QUOTED}|[^,\\"]*(?:\\.[^,\\"]*){{0,200}})'
)

_TRUE_RX = r"^(t|T|true|True|TRUE)$"
_FALSE_RX = r"^(f|F|false|False|FALSE)$"
_INT_RX = r"^-?\d+i$"
_UINT_RX = r"^\d+u$"
# Go float grammar (the influx scanner's number token) — a bare try_cast
# would also accept Java-isms the reference rejects ("1d", "0x1p4", "NaN",
# "Infinity"); overflow (1e999 → +Inf, a strconv ErrRange in Go → point
# rejected) is caught by the finite check at the use site
_FLOAT_RX = r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$"
_MAX_F64 = 1.7976931348623157e308


def _unescape(c: Column) -> Column:
    return F.regexp_replace(c, r"\\(.)", "$1")


def normalize_time_nano_col(ts: Column) -> Column:
    """NewMetricLogStringVal digit-count normalization (log_helper.go:270-283),
    Column tier: 13-digit (ms) timestamps append '000000', 19-digit pass
    verbatim, anything else scales by 10^(19-len) through float64 exactly as
    Go does (``int64(float64(t) * math.Pow10(19-len))``). ``ts`` is the raw
    decimal string (possibly signed — Go counts the '-' in the length, so we
    use the string length verbatim)."""
    slen = F.length(ts)
    # try_cast: Go's float64→int64 conversion is implementation-defined on
    # overflow (e.g. an 18-digit value ×10 passing int64 max); fall back to
    # the verbatim string rather than pick a hardware-specific saturation
    scaled = (
        ts.try_cast("double") * F.pow(F.lit(10.0), (F.lit(19) - slen).cast("double"))
    ).try_cast("long")
    return (
        F.when(slen == 13, F.concat(ts, F.lit("000000")))
        .when(slen == 19, ts)
        .otherwise(F.coalesce(scaled.cast("string"), ts))
    )


@dataclass
class InfluxDecoder(Operator):
    """Explode ``fields[source_key]`` (one line-protocol line per row) into
    metric-log rows: top-level string columns ``__name__``, ``__time_nano__``,
    ``__labels__``, ``__value__`` (+ ``__type__``, ``__field__`` when
    fields_extend; ``db`` adds the ``__tag__:db`` column, decoder.go:210-216).
    All other input columns are preserved."""

    fields_extend: bool = False
    sls_metrics_format: bool = False
    db: str | None = None
    default_ts_ns: int = 0
    source_key: str = "content"

    def apply(self, df: DataFrame) -> DataFrame:
        src = F.element_at(F.col(FIELDS), F.lit(self.source_key))
        line = F.trim(src)
        matched = line.rlike(_LINE_RX)

        parts = F.split(
            F.regexp_replace(line, _LINE_RX, f"$1{_SEP}$2{_SEP}$3"), _SEP, -1
        )

        def build(a: Column) -> Column:
            s1, s2, ts = (F.element_at(a, i) for i in (1, 2, 3))

            head = F.split(s1, r"(?<!\\),", -1)
            measurement = _unescape(F.element_at(head, 1))
            raw_tags = F.slice(head, 2, F.greatest(F.size(head) - 1, F.lit(0)))

            def tag_struct(t: Column) -> Column:
                k = _unescape(
                    F.regexp_extract(t, r"^([^=\\]*(?:\\.[^=\\]*){0,200})=", 1)
                )
                v = _unescape(
                    F.regexp_extract(t, r"^[^=\\]*(?:\\.[^=\\]*){0,200}=(.*)$", 1)
                )
                if self.sls_metrics_format:
                    k = F.regexp_replace(k, "[^a-zA-Z0-9_]", "_")
                    v = F.translate(v, "|", "_")
                return F.struct(k.alias("k"), v.alias("v"))

            labels = F.concat_ws(
                "|",
                F.transform(
                    F.array_sort(F.transform(raw_tags, tag_struct)),
                    lambda p: F.concat(p.getField("k"), F.lit("#$#"), p.getField("v")),
                ),
            )

            fkeys = F.regexp_extract_all(s2, F.lit(_FIELD_RX), 1)
            fvals = F.regexp_extract_all(s2, F.lit(_FIELD_RX), 2)
            fields_arr = F.filter(
                F.zip_with(
                    fkeys, fvals,
                    lambda k, v: F.struct(_unescape(k).alias("k"), v.alias("v")),
                ),
                lambda p: F.length(p.getField("k")) > 0,  # decoder.go:124
            )
            ts_nano = normalize_time_nano_col(
                F.when(ts == "", F.lit(str(self.default_ts_ns))).otherwise(ts)
            )
            # strconv.ParseInt ErrRange (models.ParsePoints): a timestamp
            # outside int64 rejects the point before NewMetricLogStringVal
            ts_ok = (ts == "") | ts.try_cast("bigint").isNotNull()
            return F.when(
                ts_ok,
                F.struct(
                    measurement.alias("measurement"),
                    labels.alias("labels"),
                    ts_nano.alias("ts"),
                    fields_arr.alias("fields"),
                ),
            )

        parsed = F.when(matched, flet(parts, build))

        keep = [c for c in df.columns if c != FIELDS]
        skip = line.rlike(r"^(#.*)?$")  # comments/blank: no points
        rows = (
            df.filter(~skip)
            .withColumn("__pt__", parsed)
            .filter(F.col("__pt__").isNotNull())
            .select(*keep, "__pt__", F.explode("__pt__.fields").alias("__f__"))
        )

        fv = F.col("__f__.v")
        is_str = fv.rlike(r'^".*"$')
        is_int = fv.rlike(_INT_RX)
        is_uint = fv.rlike(_UINT_RX)
        is_true = fv.rlike(_TRUE_RX)
        is_false = fv.rlike(_FALSE_RX)
        as_double = fv.try_cast("double")
        is_float = (
            fv.rlike(_FLOAT_RX)
            & as_double.isNotNull()
            & (F.abs(as_double) <= F.lit(_MAX_F64))
        )

        vtype = (
            F.when(is_str, "string")
            .when(is_int | is_uint, "int")
            .when(is_true | is_false, "bool")
            .when(is_float, "float")
        )
        value = (
            F.when(is_str, _unescape(F.expr("substring(__f__.v, 2, length(__f__.v) - 2)")))
            .when(is_int | is_uint, F.expr("substring(__f__.v, 1, length(__f__.v) - 1)"))
            .when(is_true, "1")
            .when(is_false, "0")
            .otherwise(go_g(as_double))
        )
        name = F.when(
            F.col("__f__.k") == "value", F.col("__pt__.measurement")
        ).otherwise(F.concat(F.col("__pt__.measurement"), F.lit(":"), F.col("__f__.k")))
        if self.sls_metrics_format:
            name = F.regexp_replace(name, "[^a-zA-Z0-9_:]", "_")

        out_cols = [
            *keep,
            name.alias("__name__"),
            F.col("__pt__.ts").alias("__time_nano__"),
            F.col("__pt__.labels").alias("__labels__"),
            value.alias("__value__"),
        ]
        if self.fields_extend:
            out_cols += [
                vtype.alias("__type__"),
                F.col("__f__.k").alias("__field__"),
            ]
            if self.db:
                out_cols.append(F.lit(self.db).alias("__tag__:db"))

        rows = rows.filter(vtype.isNotNull())
        if not self.fields_extend:
            rows = rows.filter(vtype != "string")  # decoder.go:184-187
        return rows.select(*out_cols)
