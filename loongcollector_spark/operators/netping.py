"""metric_netping — probe results → metric logs (plugins/input/netping).

Reference semantics (studied, not ported): the ICMP/TCP/HTTP probing and
DNS resolution goroutines are agent-side network I/O; the CONTENTFUL part
is Collect's result fan-out (netping.go:263-346):

- dns results: success → dns_resolve_rt_ms + success=1/failed=0, failure →
  success=0/failed=1 (no rt);
- invalid results dropped;
- every valid probe: <type>_total/_success/_failed;
- ping/tcping with Success>0: <type>_rtt_{min,max,avg,total,stddev}_ms;
- httping: Success>0 → httping_rt_ms + httping_response_bytes; a TLS cert
  → httping_cert_ttl_days under the cert label set (name/src/url/src_host/
  url_host/subject_commmon_name/issuer_commmon_name — [sic] the reference's
  spelling, netping.go:650-657).

Rows render through the NewMetricLog contract via the shared skywalking
emit helper. Zero shuffle — a per-row projection + explode.
"""

from __future__ import annotations

from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from .base import Operator
from .otel import labels_str
from .skywalking import _metric_rows_to_events

RESULTS_SCHEMA_HINT = (
    "ts_ms long, valid boolean, type string, "
    "label array<struct<k:string,v:string>>, "
    "total int, success int, failed int, "
    "min_rtt_ms double, max_rtt_ms double, avg_rtt_ms double, "
    "total_rtt_ms double, stddev_rtt_ms double, "
    "http_rt_ms int, http_response_size int, "
    "has_https_cert boolean, cert_label array<struct<k:string,v:string>>, "
    "cert_ttl_day int, dns_success boolean, dns_rt_ms double"
)

_ROW_T = "array<struct<name:string,labels:string,value:double>>"


def _r(name: Column, labels: Column, value: Column) -> Column:
    return F.struct(
        name.alias("name"), labels.alias("labels"), value.cast("double").alias("value")
    )


@dataclass
class NetPingMetrics(Operator):
    """One probe (or dns) result row per record (``RESULTS_SCHEMA_HINT``,
    type ∈ ping/tcping/httping/dns) → metric-log events."""

    def apply(self, df: DataFrame) -> DataFrame:
        lbl = labels_str(F.col("label"))
        t = F.col("type")
        n = lambda suffix: F.concat(t, F.lit(suffix))  # noqa: E731
        empty = F.expr(f"cast(array() as {_ROW_T})")

        dns = F.when(
            F.coalesce(F.col("dns_success"), F.lit(False)),
            F.array(
                _r(F.lit("dns_resolve_rt_ms"), lbl, F.col("dns_rt_ms")),
                _r(F.lit("dns_resolve_success"), lbl, F.lit(1.0)),
                _r(F.lit("dns_resolve_failed"), lbl, F.lit(0.0)),
            ).cast(_ROW_T),
        ).otherwise(
            F.array(
                _r(F.lit("dns_resolve_success"), lbl, F.lit(0.0)),
                _r(F.lit("dns_resolve_failed"), lbl, F.lit(1.0)),
            ).cast(_ROW_T)
        )

        counts = F.array(
            _r(n("_total"), lbl, F.col("total")),
            _r(n("_success"), lbl, F.col("success")),
            _r(n("_failed"), lbl, F.col("failed")),
        ).cast(_ROW_T)
        rtt = F.when(
            t.isin("ping", "tcping") & (F.col("success") > 0),
            F.array(
                _r(n("_rtt_min_ms"), lbl, F.col("min_rtt_ms")),
                _r(n("_rtt_max_ms"), lbl, F.col("max_rtt_ms")),
                _r(n("_rtt_avg_ms"), lbl, F.col("avg_rtt_ms")),
                _r(n("_rtt_total_ms"), lbl, F.col("total_rtt_ms")),
                _r(n("_rtt_stddev_ms"), lbl, F.col("stddev_rtt_ms")),
            ).cast(_ROW_T),
        ).otherwise(empty)
        http = F.when(
            (t == "httping") & (F.col("success") > 0),
            F.array(
                _r(n("_rt_ms"), lbl, F.col("http_rt_ms")),
                _r(n("_response_bytes"), lbl, F.col("http_response_size")),
            ).cast(_ROW_T),
        ).otherwise(empty)
        cert = F.when(
            (t == "httping") & F.coalesce(F.col("has_https_cert"), F.lit(False)),
            F.array(
                _r(n("_cert_ttl_days"), labels_str(F.col("cert_label")),
                   F.col("cert_ttl_day"))
            ).cast(_ROW_T),
        ).otherwise(empty)

        rows = F.when(t == "dns", dns).otherwise(
            F.when(F.coalesce(F.col("valid"), F.lit(False)),
                   F.concat(counts, rtt, http, cert)).otherwise(empty)
        )
        return _metric_rows_to_events(
            df, ["ts_ms"], rows, (F.col("ts_ms") * F.lit(1_000_000)).cast("long")
        )
