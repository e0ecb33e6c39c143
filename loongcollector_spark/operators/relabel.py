"""Prometheus relabeling — processor_prom_relabel_metric_native.

Reference: core/plugin/processor/inner/ProcessorPromRelabelMetricNative.cpp:40-140
(event-level flow: append group target tags with honor_labels /
``exported_<k>`` conflict renaming, run the relabel config chain, drop
``__``-prefixed and empty-valued tags, append external labels) and
core/prometheus/labels/Relabel.cpp:144-255 (the per-action semantics).

Spark-first: every action is a Column-expression rewrite of a
``tags: map<string,string>`` column (or a filter); the whole chain is one
narrow projection — no shuffle, no Python. Chained map rewrites are let-bound
per step (flet) so step k+1 references step k's map once instead of
re-inlining it.

Action notes (mirroring the reference EXACTLY, including its divergences from
upstream Prometheus):
- keep/drop/labelmap/labeldrop/labelkeep match with boost::regex_match =
  FULL match (anchored here as ^(?:rx)$);
- replace uses regex_search (partial) and boost::regex_replace
  format_first_only, whose output KEEPS the unmatched prefix/suffix — both
  the new value and the target-label template go through that expansion
  (Relabel.cpp:181-190);
- hashmod uses the LAST 8 bytes of md5 as an unsigned 64-bit int
  (Relabel.cpp:196-206);
- a replace whose expanded value is empty DELETES the target label.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Mapping, Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from .common import flet, full_match

EXPORTED_PREFIX = "exported_"  # prometheus::EXPORTED_PREFIX

_ACTIONS = {
    "replace", "keep", "drop", "keepequal", "dropequal", "hashmod",
    "labelmap", "labeldrop", "labelkeep", "lowercase", "uppercase",
    "dropmetric",
}


def _shift_refs(template: str, by: int) -> str:
    """Shift $N / ${N} group references by ``by`` (the first-only replace
    emulation wraps the user regex, renumbering its groups)."""
    return re.sub(
        r"\$\{?(\d+)\}?", lambda m: f"${int(m.group(1)) + by}", template
    )


def _escape_literal_dollars(template: str) -> str:
    """Escape backslashes AND literal dollars in a template destined for Java
    regexp_replace, keeping group refs ($ followed by a digit — _shift_refs has
    already normalized ${N} to $N) live. boost::regex_replace emits a bare
    trailing '$' (e.g. 'cost$') literally; Java throws without the escape."""
    t = template.replace("\\", "\\\\")
    return re.sub(r"\$(?!\d)", r"\\$", t)


@dataclass
class RelabelConfig:
    """One relabel rule (RelabelConfig::Init, Relabel.cpp:86-143)."""

    action: str = "replace"
    source_labels: Sequence[str] = ()
    separator: str = ";"
    target_label: str | None = None
    regex: str = "().*"
    replacement: str = "$1"
    modulus: int = 0
    match_list: Sequence[str] = ()

    def __post_init__(self):
        if self.action not in _ACTIONS:
            raise ValueError(f"unknown relabel action {self.action}")

    # -- building blocks ----------------------------------------------------

    def _val(self, tags: Column) -> Column:
        """separator-joined source label values; missing labels read as ''
        (Labels::Get)."""
        labels = list(self.source_labels)
        if self.action == "dropmetric" and "__name__" not in labels:
            labels.append("__name__")  # Relabel.cpp:120 auto-appends NAME
        if not labels:
            return F.lit("")
        return F.concat_ws(
            self.separator,
            *[F.coalesce(F.element_at(tags, F.lit(l)), F.lit("")) for l in labels],
        )

    def _full(self) -> str:
        return full_match(self.regex)

    def _first_only_replace(self, val: Column, template: str) -> Column:
        """boost::regex_replace(val, rx, template, format_first_only):
        prefix + expanded-template + suffix of the FIRST match."""
        n = re.compile(self.regex).groups
        body = _escape_literal_dollars(_shift_refs(template, 1))
        wrapped = f"(?s)^(.*?)(?:{self.regex})(.*)$"
        return F.regexp_replace(val, wrapped, f"$1{body}${n + 2}")

    # -- application --------------------------------------------------------

    def apply(self, df: DataFrame, tags_col: str = "tags") -> DataFrame:
        tags = F.col(tags_col)
        act = self.action
        if act == "drop":
            return df.filter(~self._val(tags).rlike(self._full()))
        if act == "keep":
            return df.filter(self._val(tags).rlike(self._full()))
        if act == "dropequal":
            tgt = F.coalesce(F.element_at(tags, F.lit(self.target_label)), F.lit(""))
            return df.filter(tgt != self._val(tags))
        if act == "keepequal":
            tgt = F.coalesce(F.element_at(tags, F.lit(self.target_label)), F.lit(""))
            return df.filter(tgt == self._val(tags))
        if act == "dropmetric":
            vals = F.array(*[F.lit(m) for m in self.match_list])
            return df.filter(~F.array_contains(vals, self._val(tags)))

        def rewrite(t: Column) -> Column:
            val = self._val(t)
            if act == "replace":
                matched = val.rlike(self.regex)  # regex_search: NOT anchored
                res = self._first_only_replace(val, self.replacement)
                tgt = self._first_only_replace(val, self.target_label)
                return (
                    F.when(~matched, t)
                    .when(
                        res == "",
                        flet(tgt, lambda g: F.map_filter(t, lambda k, v: k != g)),
                    )
                    .otherwise(F.map_concat(t, F.create_map(tgt, res)))
                )
            if act == "lowercase":
                return F.map_concat(
                    t, F.create_map(F.lit(self.target_label), F.lower(val))
                )
            if act == "uppercase":
                return F.map_concat(
                    t, F.create_map(F.lit(self.target_label), F.upper(val))
                )
            if act == "hashmod":
                # last 8 bytes of md5 as unsigned 64-bit → % modulus
                # (conv is unsigned; decimal(20,0) holds the full u64 range)
                hv = F.conv(F.substring(F.md5(val), 17, 16), 16, 10).cast(
                    "decimal(20,0)"
                )
                mod = (hv % self.modulus).cast("long").cast("string")
                return F.map_concat(t, F.create_map(F.lit(self.target_label), mod))
            if act == "labelmap":
                full = self._full()
                mapped = F.transform(
                    F.filter(F.map_entries(t), lambda e: e.getField("key").rlike(full)),
                    lambda e: F.struct(
                        F.regexp_replace(
                            e.getField("key"),
                            self.regex,
                            _escape_literal_dollars(self.replacement),
                        ).alias("key"),
                        e.getField("value").alias("value"),
                    ),
                )
                return F.map_concat(t, F.map_from_entries(mapped))
            if act == "labeldrop":
                full = self._full()
                return F.map_filter(t, lambda k, v: ~k.rlike(full))
            if act == "labelkeep":
                full = self._full()
                return F.map_filter(t, lambda k, v: k.rlike(full))
            raise AssertionError(act)

        return df.withColumn(tags_col, flet(tags, rewrite))


@dataclass
class PromRelabelProcessor:
    """Event-level flow of ProcessorPromRelabelMetricNative::ProcessEvent
    (lines 86-140): target-tag append (honor_labels) → relabel chain →
    drop ``__``-prefixed / empty tags → external-label append."""

    configs: Sequence[RelabelConfig] = ()
    target_tags: Mapping[str, str] = field(default_factory=dict)
    honor_labels: bool = False
    external_labels: Mapping[str, str] = field(default_factory=dict)
    tags_col: str = "tags"

    def _append(self, df: DataFrame, pairs: Mapping[str, str]) -> DataFrame:
        """appendLabels (ProcessorPromRelabelMetricNative.cpp:92-108): on
        conflict, honor_labels keeps the event's value; otherwise the event's
        value is renamed ``exported_<k>`` and the incoming value wins."""
        def make_step(k: str, v: str):
            # factory, NOT default args: extra params would change the lambda
            # arity F.transform sees (a 1-arg binding is required by flet)
            def step(t: Column) -> Column:
                has = F.map_contains_key(t, F.lit(k))
                if self.honor_labels:
                    return F.when(has, t).otherwise(
                        F.map_concat(t, F.create_map(F.lit(k), F.lit(v)))
                    )
                renamed = F.map_concat(
                    t,
                    F.create_map(
                        F.lit(EXPORTED_PREFIX + k),
                        F.element_at(t, F.lit(k)),
                        F.lit(k),
                        F.lit(v),
                    ),
                )
                return F.when(has, renamed).otherwise(
                    F.map_concat(t, F.create_map(F.lit(k), F.lit(v)))
                )

            return step

        for k, v in pairs.items():
            df = df.withColumn(self.tags_col, flet(F.col(self.tags_col), make_step(k, v)))
        return df

    def apply(self, df: DataFrame) -> DataFrame:
        df = self._append(df, self.target_tags)
        for cfg in self.configs:
            df = cfg.apply(df, self.tags_col)
        # drop __-prefixed keys and empty values (lines 121-135)
        df = df.withColumn(
            self.tags_col,
            F.map_filter(
                F.col(self.tags_col),
                lambda k, v: ~k.startswith("__") & (v != ""),
            ),
        )
        return self._append(
            df, {k: v for k, v in self.external_labels.items() if v != ""}
        )
