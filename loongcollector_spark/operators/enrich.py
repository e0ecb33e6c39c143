"""Lookup enrichment — the reference's only join-like operators, built as
broadcast hash joins (the dims are small by construction: dict files are capped
at MaxDictSize=1000, processor_dict_map.go:30-41).
"""

from __future__ import annotations

import csv
from dataclasses import dataclass
from typing import Mapping

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import broadcast

from .base import FIELDS, Operator, fget

# net.ParseIP-strict dotted quad: exactly 4 octets, each 0-255, no leading
# zeros (Go 1.17+ rejects "010"); anything looser ("1.2.3.4.5", "01.2.3.4")
# must be a lookup MISS, not a silent partial parse (processor_geoip.go:118)
IPV4_RX = r"^(25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)(\.(25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)){3}$"


def _ipv4_int(ip: F.Column) -> F.Column:
    """Strict IPv4 → uint32-as-long; NULL (lookup miss) on malformed input."""
    parts = F.split(ip, r"\.")
    raw = (
        parts.getItem(0).try_cast("long") * 16777216
        + parts.getItem(1).try_cast("long") * 65536
        + parts.getItem(2).try_cast("long") * 256
        + parts.getItem(3).try_cast("long")
    )
    return F.when(ip.rlike(IPV4_RX), raw)


def read_dict_csv(path: str, max_size: int = 1000) -> dict[str, str]:
    """2-column CSV → dict (processor_dict_map.go readCsvFile:96-137; duplicate
    key with a different value is an error)."""
    out: dict[str, str] = {}
    with open(path, newline="") as f:
        for i, row in enumerate(csv.reader(f)):
            if i >= max_size:
                break
            if len(row) != 2:
                raise ValueError(f"illegal input: row {i + 1}'s length is not 2")
            if row[0] in out and out[row[0]] != row[1]:
                raise ValueError(f"hash crash: key {row[0]} redefined")
            out[row[0]] = row[1]
    if not out:
        raise ValueError(f"empty file: {path}")
    return out


@dataclass
class DictMap(Operator):
    """processor_dict_map (plugins/processor/dictmap/processor_dict_map.go:30-198):
    map fields[source_key] through a lookup dict into dest_key.

    - hit: dest gets mapped value; mode='fill' keeps a pre-existing dest,
      'overwrite' replaces it. When dest_key == source_key the source value is
      replaced in place.
    - miss: nothing happens unless handle_missing, then dest gets ``missing``.

    Implementation: the dict is tiny → a literal map-lookup expression (fully
    codegen, no shuffle, the degenerate broadcast join). For large dims use
    DictMapJoin below."""

    map_dict: Mapping[str, str]
    source_key: str
    dest_key: str | None = None
    handle_missing: bool = False
    missing: str = "Unknown"
    mode: str = "overwrite"  # 'fill' | 'overwrite'
    max_dict_size: int = 1000

    def __post_init__(self):
        if len(self.map_dict) > self.max_dict_size:
            raise ValueError(f"map size exceeds maximum length {self.max_dict_size}")
        if self.mode not in ("fill", "overwrite"):
            raise ValueError(f'invalid mode {self.mode}, use "fill" or "overwrite"')

    def apply(self, df: DataFrame) -> DataFrame:
        dest = self.dest_key or self.source_key
        in_place = dest == self.source_key
        args = []
        for k, v in self.map_dict.items():
            args += [F.lit(k), F.lit(v)]
        lookup = F.element_at(F.create_map(*args), fget(self.source_key)) if args else F.lit(None)

        src = fget(self.source_key)
        cur_dest = fget(dest)
        hit = src.isNotNull() & lookup.isNotNull()
        miss_fill = src.isNull() & F.lit(self.handle_missing)

        if in_place:
            new_val = F.when(hit, lookup).otherwise(
                F.when(miss_fill, F.lit(self.missing))
            )
        else:
            on_hit = (
                F.coalesce(cur_dest, lookup) if self.mode == "fill" else lookup
            )
            on_miss = (
                F.coalesce(cur_dest, F.lit(self.missing))
                if self.mode == "fill"
                else F.lit(self.missing)
            )
            new_val = F.when(hit, on_hit).otherwise(F.when(miss_fill, on_miss))

        merged = F.map_concat(
            F.col(FIELDS),
            F.when(new_val.isNotNull(), F.create_map(F.lit(dest), new_val)).otherwise(
                F.expr("map()")
            ),
        )
        return df.withColumn(FIELDS, merged)


def ip_range_lookup(
    df: DataFrame, ranges: DataFrame, ip_col: str, spark: SparkSession | None = None
) -> DataFrame:
    """processor_geoip analog (plugins/processor/geoip/processor_geoip.go:35-174):
    range join ip_int BETWEEN lo AND hi against a broadcast range table. The
    mmdb decode itself is out of scope (no geoip2 in-container); the Spark-side
    plumbing is the broadcast range join."""
    df = df.withColumn("__ip_int__", _ipv4_int(F.col(ip_col)))
    joined = df.join(
        broadcast(ranges),
        (F.col("__ip_int__") >= ranges["lo"]) & (F.col("__ip_int__") <= ranges["hi"]),
        "left",
    )
    return joined.drop("__ip_int__", "lo", "hi")


@dataclass
class GeoIpProcessor(Operator):
    """processor_geoip (plugins/processor/geoip/processor_geoip.go:35-174),
    full-field variant: look fields[source_key] up in a broadcast (lo, hi) →
    location range table (built by tools/geoip_ingest.py from the public
    GeoLite2 CSV export — the relational equivalent of the reference's
    per-row mmdb walk) and append the reference's exact field keys:
    ``{source_key}_city_``, ``_province_``, ``_province_code_``,
    ``_country_``, ``_country_code_``, ``_longitude_``, ``_latitude_``
    (lon/lat rendered %.8f like strconv.FormatFloat(x,'f',8,64), lines
    106-128). Lookup misses leave the event untouched (the reference's err
    path); ``keep_source=False`` consumes the IP key (line 66)."""

    ranges: DataFrame  # (lo, hi, city, province, province_code, country, country_code, latitude, longitude)
    source_key: str = "ip"
    keep_source: bool = True
    no_city: bool = False
    no_province: bool = False
    no_country: bool = False
    no_country_code: bool = False

    def apply(self, df: DataFrame) -> DataFrame:
        from .common import flet

        ip = fget(self.source_key)
        tagged = df.withColumn("__ip_int__", _ipv4_int(ip))
        dim = self.ranges.select(
            "lo", "hi", "city", "province", "province_code", "country",
            "country_code", "latitude", "longitude",
        )
        joined = tagged.join(
            broadcast(dim),
            (F.col("__ip_int__") >= dim["lo"]) & (F.col("__ip_int__") <= dim["hi"]),
            "left",
        )
        found = F.col("country_code").isNotNull()
        pairs: dict[str, F.Column] = {}
        sk = self.source_key
        if not self.no_city:
            pairs[f"{sk}_city_"] = F.col("city")
        if not self.no_province:
            pairs[f"{sk}_province_"] = F.col("province")
            pairs[f"{sk}_province_code_"] = F.col("province_code")
        if not self.no_country:
            pairs[f"{sk}_country_"] = F.col("country")
        if not self.no_country_code:
            pairs[f"{sk}_country_code_"] = F.col("country_code")
        pairs[f"{sk}_longitude_"] = F.format_string("%.8f", F.col("longitude"))
        pairs[f"{sk}_latitude_"] = F.format_string("%.8f", F.col("latitude"))
        args: list[F.Column] = []
        for k, v in pairs.items():
            args += [F.lit(k), v]
        # only non-empty decoded names are appended (go lines 106-126)
        add = F.map_filter(
            F.create_map(*args), lambda k, v: v.isNotNull() & (v != "")
        )

        def merge(f: F.Column) -> F.Column:
            # source removal is UNCONDITIONAL under !KeepSource (go:99-101,
            # before the lookup even runs)
            base = (
                f
                if self.keep_source
                else F.map_filter(f, lambda k, v: k != F.lit(sk))
            )
            return F.when(found, F.map_concat(base, add)).otherwise(base)

        out = joined.withColumn(FIELDS, flet(F.col(FIELDS), merge))
        return out.drop("__ip_int__", *dim.columns)
