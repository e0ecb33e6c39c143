"""Event-frame model + operator base.

The reference's event is an ordered multimap of string key → string value
(LogEvent contents, core/models/LogEvent.h:64-128) carried inside a
PipelineEventGroup with tags/metadata (core/models/PipelineEventGroup.h:80-154).

Spark mapping (SURVEY.md §1.4): one DataFrame row per event with
- ``fields: map<string,string>`` — the dynamic event contents,
- group-level/meta columns as plain top-level columns (``doc_id``, ``source``,
  ``n_tok``, ``event_time``…). Ordering of contents only matters for wire
  serialization in the reference — dropped here.

All operators are Column-expression compilers over the ``fields`` map: they run
JVM-side under whole-stage codegen (map_concat / map_filter / element_at are
all codegen-able); nothing row-at-a-time in Python. The one exception is
``payload_rows``, the shared stage of the binary payload decoders, whose
wire formats have no Column-expression decode.

The session must set ``spark.sql.mapKeyDedupPolicy=LAST_WIN`` (session.py):
``map_concat(a, b)`` then means "b overwrites a", which gives us both
SetContent (overwrite) and AddLog (no-overwrite: put the existing map last)
semantics (ProcessorParseRegexNative.cpp:176-184 AddLog never overwrites).
"""

from __future__ import annotations

from abc import ABC, abstractmethod
from typing import Callable, Iterable, Iterator

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.types import StructField, StructType

FIELDS = "fields"


def fget(key: str, fields: str = FIELDS) -> Column:
    """Value of event content `key` (NULL if absent)."""
    return F.element_at(F.col(fields), F.lit(key))


def fhas(key: str, fields: str = FIELDS) -> Column:
    return F.map_contains_key(F.col(fields), F.lit(key))


def fremove(keys: Iterable[str], fields: str = FIELDS) -> Column:
    ks = list(keys)
    if not ks:
        return F.col(fields)
    arr = F.array(*[F.lit(k) for k in ks])
    return F.map_filter(F.col(fields), lambda k, v: ~F.array_contains(arr, k))


def payload_rows(
    df: DataFrame,
    cols: list[str],
    passthrough: list[str],
    out_fields: list[StructField],
    rows_of: Callable[[dict], list[tuple]],
) -> DataFrame:
    """The one Python stage of the per-row payload decoders (binary protobuf,
    profile and media ingest): ONE ``mapInArrow`` pass over ``passthrough +
    cols``, output schema = the passthrough fields, then ``out_fields``.

    ``rows_of(row)`` sees each input row as a dict of ``cols`` (Arrow's own
    Python values: nulls are ``None``, ints exact, maps are (key, value)
    lists) and returns that row's output tuples, one per ``out_fields``
    layout; ``[]`` drops the line (the reference drops a payload that fails
    to decode, never the job — ProcessorParseFromPBNative.cpp:96-104).
    Passthrough columns are repeated onto every tuple of their row as the
    batch's own Arrow values (``take``), never through Python.

    ``rows_of`` is pickled to the workers: it must not refer to a DataFrame
    (not even ``df.columns``) — copy what it needs into locals first."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    cols, passthrough = list(cols), list(passthrough)
    for c in passthrough + cols:
        if c not in df.columns:
            raise ValueError(f"missing column {c}")
    out = StructType(list(out_fields))
    schema = StructType([df.schema[c] for c in passthrough] + out.fields)
    types = to_arrow_schema(out).types

    def mapper(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            idx, rows = [], []
            for i, row in enumerate(batch.select(cols).to_pylist()):
                for t in rows_of(row):
                    idx.append(i)
                    rows.append(t)
            kept = batch.select(passthrough).take(pa.array(idx, pa.int64()))
            values = list(zip(*rows)) or [()] * len(types)
            outs = [pa.array(v, type=t) for v, t in zip(values, types)]
            yield pa.RecordBatch.from_arrays(kept.columns + outs, names=schema.names)

    read = passthrough + [c for c in cols if c not in passthrough]
    return df.select(*read).mapInArrow(mapper, schema)


def to_events(df: DataFrame, content_col: str = "content", source_key: str = "content") -> DataFrame:
    """Wrap a raw-string column into the canonical event frame: all other
    columns preserved, plus ``fields = map(source_key -> content)``."""
    others = [c for c in df.columns if c != content_col]
    return df.select(*others, F.create_map(F.lit(source_key), F.col(content_col)).alias(FIELDS))


def project_fields(
    df: DataFrame, keys: Iterable[str], keep: Iterable[str] = (), default: str | None = None
) -> DataFrame:
    """Promote map entries to top-level string columns (post-parse promotion for
    Catalyst: pruning/codegen work on plain columns; SURVEY.md §1.4)."""
    cols = [F.col(c) for c in keep]
    for k in keys:
        c = fget(k)
        if default is not None:
            c = F.coalesce(c, F.lit(default))
        cols.append(c.alias(k))
    return df.select(*cols)


class Operator(ABC):
    """A pipeline stage: DataFrame -> DataFrame (pure, lazily composed)."""

    @abstractmethod
    def apply(self, df: DataFrame) -> DataFrame: ...

    def __call__(self, df: DataFrame) -> DataFrame:
        return self.apply(df)


class Chain(Operator):
    """Sequential composition — the processor line of a pipeline config
    (CollectionPipeline::Process, core/collection_pipeline/CollectionPipeline.cpp:405-437)."""

    def __init__(self, *ops: Operator):
        self.ops = list(ops)

    def apply(self, df: DataFrame) -> DataFrame:
        for op in self.ops:
            df = op.apply(df)
        return df

    def apply_metered(self, df: DataFrame):
        """Apply with per-processor in/out event counters — the analog of each
        plugin's self-monitor metrics (mInEventsTotal / mOutEventsTotal /
        discards = in − out of the next stage; e.g.
        ProcessorParseRegexNative.cpp:95-103). Implemented with
        ``df.observe``: counters are computed DURING the action (executor-side
        partial aggregation, no extra pass). Returns (df, observations) —
        read ``obs.get`` after the first action; per-stage drop counts are
        the deltas between consecutive counters."""
        from pyspark.sql import Observation

        observations = []
        obs0 = Observation("input")
        df = df.observe(obs0, F.count(F.lit(1)).alias("events"))
        observations.append(("input", obs0))
        for i, op in enumerate(self.ops):
            df = op.apply(df)
            ob = Observation(f"after_{i}_{type(op).__name__}")
            df = df.observe(ob, F.count(F.lit(1)).alias("events"))
            observations.append((f"after_{i}_{type(op).__name__}", ob))
        return df, observations
