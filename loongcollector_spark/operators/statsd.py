"""StatsD / DogStatsD decoder — the Format=statsd ingestion surface of
service_http_server (pkg/protocol/decoder/statsd/decoder.go:44-64): each
non-empty line is parsed by the public dogstatsd grammar
(``name:value|type[|@rate][|#k:v,k2:v2]``) and emitted as one SLS metric-log
row via helper.NewMetricLog — ``__name__`` / ``__time_nano__`` /
``__labels__`` (tags sorted, ``k#$#v`` joined ``|``) / ``__value__``
(float, Go %g rendering).

Reference behaviors kept:
- unparseable lines are skipped (decoder.go:52-58 logs and continues);
- the sample rate (``@0.5``) is parsed but unused (only name/value/tags reach
  NewMetricLog, decoder.go:60);
- the timestamp is the receive time (``now.UnixNano()``) — deterministic here
  as ``default_ts_ns``.

Subset: value must parse as a float — the reference asserts
``m.Value.(float64)``, which only holds for counter/gauge/timer/histogram
/distribution lines; set (``|s``) string values would panic the Go plugin and
are dropped here instead."""

from __future__ import annotations

from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from .base import FIELDS, Operator
from .common import flet
from .gofmt import go_g
from .influx import _FLOAT_RX, _MAX_F64
from .prom_rw import normalize_time_nano

_SEP = "\x01"

# name:value|type[|@rate][|#tags] — name up to the first ':', tags at the end
_RX = (
    r"^([^:|]+):([^|]+)\|(c|g|ms|h|d|s)"
    r"(?:\|@([0-9.]+))?"
    r"(?:\|#([^|]*))?$"
)


@dataclass
class StatsdDecoder(Operator):
    """Explode ``fields[source_key]`` statsd lines into metric-log rows
    (``__name__``, ``__time_nano__``, ``__labels__``, ``__value__``); other
    input columns preserved; unparseable lines dropped."""

    default_ts_ns: int = 0
    source_key: str = "content"

    def apply(self, df: DataFrame) -> DataFrame:
        src = F.element_at(F.col(FIELDS), F.lit(self.source_key))
        line = F.trim(src)
        matched = line.rlike(_RX)
        parts = F.split(
            F.regexp_replace(line, _RX, f"$1{_SEP}$2{_SEP}$3{_SEP}$4{_SEP}$5"),
            _SEP, -1,
        )

        def build(a: Column) -> Column:
            name, valtok, _typ, _rate, tags = (
                F.element_at(a, i) for i in range(1, 6)
            )
            # Go float grammar + finite: strconv.ParseFloat rejects "1d"/hex
            # floats and errors on overflow (see influx._FLOAT_RX note)
            val = F.when(
                valtok.rlike(_FLOAT_RX), valtok.try_cast("double")
            )
            val = F.when(F.abs(val) <= F.lit(_MAX_F64), val)
            pairs = F.filter(
                F.split(tags, ",", -1), lambda t: F.length(t) > 0
            )
            labels = F.concat_ws(
                "|",
                F.transform(
                    F.array_sort(
                        F.transform(
                            pairs,
                            lambda t: F.struct(
                                F.regexp_extract(t, "^([^:]*)", 1).alias("k"),
                                F.regexp_extract(t, "^[^:]*:?(.*)$", 1).alias("v"),
                            ),
                        )
                    ),
                    lambda p: F.concat(p.getField("k"), F.lit("#$#"), p.getField("v")),
                ),
            )
            return F.struct(
                val.isNotNull().alias("ok"),
                name.alias("name"),
                F.when(val.isNotNull(), go_g(val)).alias("value"),
                labels.alias("labels"),
            )

        parsed = F.when(matched, flet(parts, build))
        keep = [c for c in df.columns if c != FIELDS]
        return (
            df.withColumn("__m__", parsed)
            .filter(F.col("__m__").isNotNull() & F.col("__m__.ok"))
            .select(
                *keep,
                F.col("__m__.name").alias("__name__"),
                # helper.NewMetricLog(now.UnixNano()) → digit-count normalize
                F.lit(normalize_time_nano(self.default_ts_ns)[0]).alias(
                    "__time_nano__"
                ),
                F.col("__m__.labels").alias("__labels__"),
                F.col("__m__.value").alias("__value__"),
            )
        )
