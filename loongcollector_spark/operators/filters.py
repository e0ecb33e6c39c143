"""Row-level filters (SURVEY.md §2.3) — compiled to Catalyst predicates so the
optimizer can push them toward the scan.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Mapping, Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from .base import FIELDS, Operator, fget
from .common import full_match


@dataclass
class FilterRegex(Operator):
    """processor_filter_regex (plugins/processor/filter/regex/processor_filter_regex.go:33-134):
    keep row iff every Include[key] regex matches (missing key ⇒ fail) and no
    Exclude[key] regex matches (missing key ⇒ pass). Full-match semantics."""

    include: Mapping[str, str] = field(default_factory=dict)
    exclude: Mapping[str, str] = field(default_factory=dict)

    def predicate(self) -> Column:
        cond = F.lit(True)
        for key, rx in self.include.items():
            v = fget(key)
            cond = cond & v.isNotNull() & v.rlike(full_match(rx))
        for key, rx in self.exclude.items():
            v = fget(key)
            cond = cond & ~(v.isNotNull() & v.rlike(full_match(rx)))
        return cond

    def apply(self, df: DataFrame) -> DataFrame:
        return df.filter(self.predicate())


@dataclass
class FilterKeyRegex(Operator):
    """processor_filter_key_regex
    (plugins/processor/filter/keyregex/processor_filter_key_regex.go:28-120):
    every Include regex must match SOME key name; no key may match Exclude."""

    include: Sequence[str] = ()
    exclude: Sequence[str] = ()

    def apply(self, df: DataFrame) -> DataFrame:
        keys = F.map_keys(F.col(FIELDS))
        cond = F.lit(True)
        for rx in self.include:
            cond = cond & F.exists(keys, lambda k: k.rlike(full_match(rx)))
        for rx in self.exclude:
            cond = cond & ~F.exists(keys, lambda k: k.rlike(full_match(rx)))
        return df.filter(cond)


# --- processor_filter_native expression tree -------------------------------
# (core/plugin/processor/ProcessorFilterNative.cpp:30-488; node classes in
# ProcessorFilterNative.h:28-99). ConditionExp JSON: {"operator": "and"|"or"|
# "not", "operands": [...]} | {"key": k, "exp": regex, "type": "regex"}.


def compile_condition(node: dict) -> Column:
    if "operator" in node:
        op = node["operator"].lower()
        operands = [compile_condition(c) for c in node.get("operands", [])]
        if op == "and":
            out = operands[0]
            for c in operands[1:]:
                out = out & c
            return out
        if op == "or":
            out = operands[0]
            for c in operands[1:]:
                out = out | c
            return out
        if op == "not":
            return ~operands[0]
        raise ValueError(f"unknown operator {op}")
    key, rx = node["key"], node["exp"]
    v = fget(key)
    return v.isNotNull() & v.rlike(full_match(rx))


@dataclass
class FilterNative(Operator):
    """processor_filter_native: EXPRESSION_MODE boolean tree of per-key regex
    leaves, or RULE_MODE Include map (all must match)."""

    condition_exp: dict | None = None  # expression mode
    include: Mapping[str, str] | None = None  # rule mode

    def apply(self, df: DataFrame) -> DataFrame:
        if self.condition_exp is not None:
            return df.filter(compile_condition(self.condition_exp))
        cond = F.lit(True)
        for key, rx in (self.include or {}).items():
            v = fget(key)
            cond = cond & v.isNotNull() & v.rlike(full_match(rx))
        return df.filter(cond)


@dataclass
class RateLimit(Operator):
    """processor_rate_limit (plugins/processor/ratelimit/processor_rate_limit.go:26-103):
    token-bucket per distinct value-combo of ``fields_keys``, limit N per window.

    Batch analog (documented divergence: event-time windows instead of agent
    wall-clock): keep the first N rows per (key-combo, event-time window) via
    row_number. Requires a ``time_col`` timestamp column; with none, the limit
    applies per key-combo over the whole batch."""

    fields_keys: Sequence[str]
    limit: int
    window: str = "1 second"
    time_col: str | None = None
    order_col: str | None = None  # deterministic tie-break (e.g. doc_id)

    def apply(self, df: DataFrame) -> DataFrame:
        parts = [fget(k) for k in self.fields_keys]
        if self.time_col:
            parts.append(F.window(F.col(self.time_col), self.window))
        order = F.col(self.order_col) if self.order_col else F.lit(1)
        w = Window.partitionBy(*parts).orderBy(order)
        return (
            df.withColumn("__rn__", F.row_number().over(w))
            .filter(F.col("__rn__") <= self.limit)
            .drop("__rn__")
        )


@dataclass
class GroupInfoFilter(Operator):
    """extension/group_info_filter (plugins/extension/group_info_filter/
    group_info_filter.go:29-100 ExtensionGroupInfoFilter.Intercept): keep a
    group iff EVERY configured condition holds — for each (key, pattern,
    reverse), the group's tag/meta value (missing → "") must satisfy
    ``regex-match == !reverse`` (Go MatchString is an unanchored search ≙
    rlike). Spark shape: group metadata ride as ``tags``/``metas`` map
    columns, so the interceptor is one pushdown-able Filter — no shuffle."""

    tags: Mapping[str, tuple[str, bool]] = field(default_factory=dict)
    metas: Mapping[str, tuple[str, bool]] = field(default_factory=dict)
    tags_col: str = "tags"
    metas_col: str = "metas"

    def apply(self, df: DataFrame) -> DataFrame:
        cond = F.lit(True)
        for col, spec in ((self.metas_col, self.metas), (self.tags_col, self.tags)):
            for k, (pattern, reverse) in spec.items():
                v = F.coalesce(F.element_at(F.col(col), F.lit(k)), F.lit(""))
                matched = v.rlike(pattern)
                cond = cond & (matched != F.lit(reverse))
        return df.filter(cond)
