"""Router — fan-out to multiple sinks (reference
core/collection_pipeline/route/Router.cpp:26-84 + Condition.cpp:36-180).

Semantics: each sink has an optional condition; a row goes to EVERY matching
sink (multi-match copies the group, Router.cpp:60-80); a sink with no condition
always matches (Router.cpp:34). TagCondition compares a tag column to a value,
optionally dropping the tag afterwards (DiscardingTag, Condition.cpp:66-111).

Spark-first implementation: ONE pass — build an array of matching sink names
and ``explode`` it. A row matching k sinks becomes k rows distinguished by the
``sink`` column. This avoids the N-filtered-scans pattern (which would
recompute the parse stage N times or require caching) and turns fan-out into a
single narrow transformation; the per-sink write is then one rebalance
by sink (see plans/checkpoint.resumable_write).
"""

from __future__ import annotations

from dataclasses import dataclass, field as dfield
from typing import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from .operators.base import FIELDS, Operator, fget, fremove

SINK_COL = "sink"


@dataclass
class RouteCondition:
    """TagCondition (Condition.cpp:66-111) over a tag: either a top-level
    column or an event field. None key ⇒ unconditioned (always match)."""

    sink: str
    match_key: str | None = None
    match_value: str | None = None
    discard_tag: bool = False
    use_fields: bool = False  # match against fields map instead of a column

    def predicate(self) -> Column:
        if self.match_key is None:
            return F.lit(True)
        v = fget(self.match_key) if self.use_fields else F.col(self.match_key)
        return v.isNotNull() & (v == F.lit(self.match_value))


def EventTypeCondition(sink: str, event_type: str) -> RouteCondition:
    """EventTypeCondition (Condition.cpp:36-59): route by the event TYPE —
    "log" | "metric" | "trace". In the relational event model the type is the
    ``__event_type__`` column (models.py), so the condition is a plain
    column-equality RouteCondition."""
    from .models import LOG, METRIC, TRACE, EVENT_TYPE_COL

    if event_type not in (LOG, METRIC, TRACE):
        raise ValueError(f"invalid event type {event_type!r} (Condition.cpp:38-50)")
    return RouteCondition(sink, EVENT_TYPE_COL, event_type)


@dataclass
class Router(Operator):
    """Explode-based multi-match fan-out. Unrouted rows (matching no sink) are
    dropped, mirroring Router::Route returning an empty set.

    DiscardingTag is PER COPY (Router.cpp:71-79 calls
    Condition::GetResult only on the copy routed to that conditioned
    flusher): the tag is removed only on rows whose ``sink`` came from the
    discarding rule — copies for always-matched flushers keep it. For
    top-level tag columns the row-level analog of tag removal is NULL."""

    rules: Sequence[RouteCondition]

    def matched(self) -> Column:
        """The sinks a row matches, in rule order (empty when none)."""
        matches = F.array(
            *[
                F.when(r.predicate(), F.lit(r.sink)).otherwise(F.lit(None))
                for r in self.rules
            ]
        )
        return F.filter(matches, lambda s: s.isNotNull())

    def apply(self, df: DataFrame, matched: Column | None = None) -> DataFrame:
        """``matched``: a column holding the sinks each row matches, as
        ``matched()`` computes them (default ``matched()`` itself); for
        example one evaluated once per row of a lookup the rows were joined
        to."""
        if matched is None:
            matched = self.matched()
        out = df.withColumn(SINK_COL, F.explode(matched))
        for r in self.rules:
            if not (r.discard_tag and r.match_key):
                continue
            on_this_sink = F.col(SINK_COL) == F.lit(r.sink)
            if r.use_fields:
                out = out.withColumn(
                    FIELDS,
                    F.when(on_this_sink, fremove([r.match_key])).otherwise(
                        F.col(FIELDS)
                    ),
                )
            else:
                out = out.withColumn(
                    r.match_key,
                    F.when(on_this_sink, F.lit(None)).otherwise(
                        F.col(r.match_key)
                    ),
                )
        return out


@dataclass
class RegexRouter(Operator):
    """aggregator_logstore_router
    (plugins/aggregator/logstorerouter/aggregator_router.go:43-171): first
    regex over fields[source_key] that matches picks the target logstore;
    unmatched rows go to ``default_sink`` (or are dropped when no_match_error)."""

    source_key: str
    patterns: Sequence[tuple[str, str]]  # (regex, sink)
    default_sink: str | None = "default"

    def apply(self, df: DataFrame) -> DataFrame:
        src = fget(self.source_key)
        expr: Column = F.lit(self.default_sink)
        for rx, sink in reversed(self.patterns):
            expr = F.when(src.isNotNull() & src.rlike(rx), F.lit(sink)).otherwise(expr)
        out = df.withColumn(SINK_COL, expr)
        return out.filter(F.col(SINK_COL).isNotNull())
