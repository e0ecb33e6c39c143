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
all codegen-able); nothing row-at-a-time in Python. The exceptions are
``payload_rows`` and ``group_rows``, the shared Arrow stages of the binary
payload decoders and wire packers, whose formats have no Column-expression
codec.

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


def _require(df: DataFrame, cols: list[str]) -> None:
    """A missing input column is an error when the plan is built, not inside
    a Python worker."""
    for c in cols:
        if c not in df.columns:
            raise ValueError(f"missing column {c}")


def _rows(data, cols: list[str]) -> list[dict]:
    """The rows of an Arrow RecordBatch or Table as dicts of ``cols``, in
    Arrow's own Python values: nulls are ``None``, ints exact, maps are
    (key, value) lists."""
    return data.select(cols).to_pylist()


def _arrays(rows: list[tuple], types: list) -> list:
    """The columns of ``rows`` (tuples, possibly none) as Arrow arrays of
    ``types``, each written against the Arrow type of its Spark field."""
    import pyarrow as pa

    values = list(zip(*rows)) or [()] * len(types)
    return [pa.array(v, type=t) for v, t in zip(values, types)]


def payload_rows(
    df: DataFrame,
    cols: list[str],
    passthrough: list[str],
    out_fields: list[StructField],
    rows_of: Callable[[dict], list[tuple]],
) -> DataFrame:
    """The one Python stage of the per-row payload decoders (binary protobuf,
    profile and media ingest) and fixture encoders: ONE ``mapInArrow`` pass
    over ``passthrough + cols``, output schema = the passthrough fields, then
    ``out_fields``.

    ``rows_of(row)`` sees each input row as a dict of ``cols`` (``_rows``)
    and returns that row's output tuples, one per ``out_fields`` layout;
    ``[]`` drops the line (the reference drops a payload that fails to
    decode, never the job — ProcessorParseFromPBNative.cpp:96-104).
    Passthrough columns are repeated onto every tuple of their row as the
    batch's own Arrow values (``take``), never through Python.

    ``rows_of`` is pickled to the workers: it must not refer to a DataFrame
    (not even ``df.columns``) — copy what it needs into locals first."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    cols, passthrough = list(cols), list(passthrough)
    read = list(dict.fromkeys(passthrough + cols))
    _require(df, read)
    out = StructType(list(out_fields))
    schema = StructType([df.schema[c] for c in passthrough] + out.fields)
    types = to_arrow_schema(out).types

    def mapper(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            idx, rows = [], []
            for i, row in enumerate(_rows(batch, cols)):
                for t in rows_of(row):
                    idx.append(i)
                    rows.append(t)
            kept = batch.select(passthrough).take(pa.array(idx, pa.int64()))
            outs = _arrays(rows, types)
            yield pa.RecordBatch.from_arrays(kept.columns + outs, names=schema.names)

    return df.select(*read).mapInArrow(mapper, schema)


def group_rows(
    df: DataFrame,
    keys: list[str],
    cols: list[str],
    out_fields: list[StructField],
    pack: Callable[[list[dict]], list[tuple]],
    order: str | None = None,
) -> DataFrame:
    """The one Python stage of the grouped wire packers (a sink batch, a
    fixture request): ONE ``groupBy(*keys).applyInArrow`` over ``keys + cols``,
    output schema = the key fields, then ``out_fields``.

    ``pack(rows)`` sees one group's rows as dicts of ``cols`` (``_rows``,
    as ``payload_rows`` gives them), sorted by the column ``order`` when it
    is given, and returns the group's output tuples, one per ``out_fields``
    layout. The group's key values are prepended to every tuple, and every
    array is written against the Arrow type of its Spark field
    (``applyInArrow`` rejects an int64 array under an ``int`` field).

    ``pack`` is pickled to the workers, as ``payload_rows``' ``rows_of`` is."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    keys, cols = list(keys), list(cols)
    read = list(dict.fromkeys(keys + cols + ([order] if order else [])))
    _require(df, read)
    schema = StructType([df.schema[k] for k in keys] + list(out_fields))
    types = to_arrow_schema(schema).types

    # no type hints: applyInArrow reads them to choose its calling form
    def packer(key, table):
        if order:
            table = table.sort_by(order)
        head = tuple(k.as_py() for k in key)
        rows = [head + tuple(t) for t in pack(_rows(table, cols))]
        return pa.Table.from_arrays(_arrays(rows, types), names=schema.names)

    return df.select(*read).groupBy(*keys).applyInArrow(packer, schema)


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
