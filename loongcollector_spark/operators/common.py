"""CommonParserOptions — the shared keep/discard-unmatch truth table of all
native parsers (reference core/plugin/processor/CommonParserOptions.{h,cpp}):

- ``KeepingSourceWhenParseFail``   (default false)
- ``KeepingSourceWhenParseSucceed`` (default false)
- ``RenamedSourceKey``             (default = SourceKey)
- ``CopingRawLog``                 (legacy; adds ``__raw_log__`` on failure)

Semantics (CommonParserOptions.cpp:92-117):
- ShouldAddSourceContent(ok) = (ok and keep_succeed) or (not ok and keep_fail)
  → re-add the source value under RenamedSourceKey.
- ShouldAddLegacyUnmatchedRawLog(ok) = not ok and keep_fail and coping_raw_log
  → also add it under ``__raw_log__``.
- ShouldEraseEvent: failed parse with keep_fail=false drops the event when
  nothing else remains in it (the driver loop erases the event in-place,
  ProcessorParseRegexNative.cpp:108-126).

Parsed keys never overwrite pre-existing keys (AddLog,
ProcessorParseRegexNative.cpp:176-184); the re-added source/raw-log keys are
added last and also never overwrite.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Mapping

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from .base import FIELDS

RAW_LOG_KEY = "__raw_log__"  # CommonParserOptions::legacyUnmatchedRawLogKey


@dataclass
class ParserOptions:
    source_key: str = "content"
    keep_fail: bool = False  # KeepingSourceWhenParseFail
    keep_succeed: bool = False  # KeepingSourceWhenParseSucceed
    renamed_source_key: str | None = None  # default: source_key
    coping_raw_log: bool = False

    @property
    def renamed(self) -> str:
        return self.renamed_source_key or self.source_key

    def finalize(
        self,
        df: DataFrame,
        success: Column,
        new_map: Column,
        src: Column | None = None,
    ) -> DataFrame:
        """Apply the truth table: merge parsed keys, re-add/rename source,
        drop failed rows. ``new_map`` holds the parsed key→value pairs (only
        meaningful where ``success``); ``src`` is the source value (defaults
        to fields[source_key])."""
        if src is None:
            src = F.element_at(F.col(FIELDS), F.lit(self.source_key))

        empty = F.expr("map()")
        base = F.map_filter(F.col(FIELDS), lambda k, v: k != F.lit(self.source_key))

        if not self.keep_fail:
            # ShouldEraseEvent (CommonParserOptions.cpp:100-117): drop failed
            # rows whose remaining contents are empty, ONLY the
            # __file_offset__ position meta, or ONLY the container
            # _time_/_source_ pair — i.e. nothing the user would keep.
            # Filter BEFORE the fields projection: for failed keep_fail=False
            # rows the merged map IS `base`, so the condition only needs
            # (success, base) — filtering after would substitute the whole
            # merged expression into the predicate (regex re-run per check).
            f = base
            only_offset = (F.size(f) == 1) & F.map_contains_key(
                f, F.lit("__file_offset__")
            )
            only_container = (
                (F.size(f) == 2)
                & F.map_contains_key(f, F.lit("_time_"))
                & F.map_contains_key(f, F.lit("_source_"))
            )
            erasable = (F.size(f) == 0) | only_offset | only_container
            df = df.filter(success | ~erasable)

        # LAST_WIN precedence (later wins): raw_log < renamed_source < parsed
        # < base. `success`/`src` are LET-BOUND with the parsed map: the merge
        # references them up to four times, and an unbound `success` would
        # re-run the match regex per reference.
        def merge(b: Column) -> Column:
            ok, s = b.getField("ok"), b.getField("src")
            add_source = (
                (ok & F.lit(self.keep_succeed)) | (~ok & F.lit(self.keep_fail))
            ) & s.isNotNull()
            add_raw = (~ok & F.lit(self.keep_fail and self.coping_raw_log)) & s.isNotNull()
            return F.map_concat(
                F.when(add_raw, F.create_map(F.lit(RAW_LOG_KEY), s)).otherwise(empty),
                F.when(add_source, F.create_map(F.lit(self.renamed), s)).otherwise(empty),
                F.coalesce(b.getField("nm"), empty),
                base,
            )

        # nm stays guarded by `success` INSIDE the struct: parser map builds
        # may index arrays that are short on failed rows (ANSI element_at
        # throws out-of-bounds), so it must never evaluate for failed rows
        bound = F.struct(
            success.alias("ok"),
            F.when(success, new_map).alias("nm"),
            src.alias("src"),
        )
        return df.withColumn(FIELDS, flet(bound, merge))


def flet(col: Column, fn) -> Column:
    """Let-binding: evaluate ``col`` ONCE per row and pass it to ``fn`` as a
    lambda variable. Catalyst's CollapseProject re-inlines a subexpression at
    every reference (and lambda subtrees defeat codegen CSE), so an expression
    like split(regexp_replace(src, rx, repl)) referenced by k element_at calls
    runs the REGEX k times per row — measured 3.5× slowdown on the nginx parse
    at 8M rows. Wrapping the references in a single-element transform makes
    the binding explicit."""
    return F.element_at(F.transform(F.array(col), fn), 1)


def full_match(rx: str) -> str:
    """``rx`` anchored to the whole string for java.util.regex. The end anchor
    is ``\\z``: Java's ``$`` also matches before a final line terminator, so
    ``^(?:\\w+)$`` would accept ``"abc\\n"`` (boost::regex_match does not).
    The group wrapper leaves capture indices unchanged."""
    return f"^(?:{rx})\\z"


def parsed_map(pairs: Mapping[str, Column]) -> Column:
    args: list[Column] = []
    for k, v in pairs.items():
        args.append(F.lit(k))
        args.append(v.cast("string"))
    return F.create_map(*args) if args else F.expr("map()")
