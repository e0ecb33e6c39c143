"""Token codec for the pre-tokenized sequences table (BASELINE.json input_hint:
``(doc_id string, tokens array<int>, n_tok int, source string)``).

Vocabulary: identity codepoint encoding — ``tokens[i] = ord(line[i])``,
exactly reversible for every Unicode scalar value, so the per-row invariant
"token-array equality" reduces to string equality after
decode→process→re-encode.

Two decode paths, equal on every input (a null token array decodes to ``''``,
a null token is skipped, and a token that is no Unicode scalar value — a
surrogate, a negative value or one above 0x10FFFF — decodes to U+FFFD):
- **Arrow path** (``decode_tokens_arrow``): ``mapInArrow`` over the list
  buffers, whole-batch Arrow/numpy work (north_star: "vectorized
  pandas/Arrow UDF stage ... no per-row Python") — the flagship's decode.
  With a ``LineRegex``, the same stage full-matches one source's decoded
  lines with RE2 (``pyarrow.compute``) and returns the match flag, and
  optionally the groups, in place of those lines.
- **JVM path** (``decode_tokens``, Catalyst/codegen, no Python): 8 hex digits
  per code point, ``unhex``, ``decode(.., 'UTF-32')`` — exact for all code
  points; the oracle decode of the oracle-checked queries in queries.py.
"""

from __future__ import annotations

from typing import Iterator, NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def encode_line(col) -> Column:
    """line string -> array<int> of codepoints (JVM-side).

    ``split('', '')`` yields [''] → codepoint 0; filtered out so the empty
    string encodes to []. Synthetic lines never contain NUL."""
    c = col if isinstance(col, Column) else F.col(col)
    return F.filter(F.transform(F.split(c, ""), lambda ch: F.ascii(ch)), lambda t: t != 0)


def decode_tokens(col) -> Column:
    """array<int> codepoints -> line string (JVM-side, whole-stage codegen).

    The leading big-endian BOM fixes the byte order, so a U+FEFF token is
    kept as text rather than read as a BOM. A token that is no Unicode scalar
    value becomes U+FFFD (a null token stays null and is skipped)."""
    c = col if isinstance(col, Column) else F.col(col)

    def hex8(t: Column) -> Column:
        bad = (t < 0) | (t > 0x10FFFF) | t.between(0xD800, 0xDFFF)
        return F.lpad(F.hex(F.when(bad, F.lit(0xFFFD)).otherwise(t)), 8, "0")

    hexed = F.array_join(F.transform(c, hex8), "")
    utf32 = F.unhex(F.concat(F.lit("0000FEFF"), hexed))
    return F.coalesce(F.decode(utf32, "UTF-32"), F.lit(""))


def decode_list_array(tokens: pa.Array) -> pa.StringArray:
    """``list<int>`` of code points -> one string per row, no loop over rows.
    An all-ASCII batch reuses the list offsets as string offsets over one
    ``uint8`` cast of the values; any other takes one UTF-32→UTF-8 transcode,
    with U+FFFD for each value that is no Unicode scalar value.
    Offsets are rebuilt from the lengths, so a sliced array works."""
    lens = pc.fill_null(pc.list_value_length(tokens), 0).to_numpy()
    offsets = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    values = pc.list_flatten(tokens)
    if values.null_count:
        kept = np.zeros(len(values) + 1, dtype=np.int64)
        np.cumsum(values.is_valid().to_numpy(zero_copy_only=False), out=kept[1:])
        offsets = kept[offsets]
        values = values.drop_null()
    v = values.to_numpy()
    if not len(v) or (v.min() >= 0 and v.max() < 0x80):
        data = v.astype(np.uint8)
    else:
        bad = (v < 0) | (v > 0x10FFFF) | ((v >= 0xD800) & (v <= 0xDFFF))
        v = np.where(bad, 0xFFFD, v)
        data = np.frombuffer(
            v.astype("<u4").tobytes().decode("utf-32-le").encode("utf-8"), np.uint8
        )
        width = 1 + (v >= 0x80) + (v >= 0x800) + (v >= 0x10000)
        byte_offsets = np.zeros(len(v) + 1, dtype=np.int64)
        np.cumsum(width, out=byte_offsets[1:])
        offsets = byte_offsets[offsets]
    return pa.StringArray.from_buffers(
        len(lens), pa.py_buffer(offsets.astype(np.int32)), pa.py_buffer(data)
    )


class LineRegex(NamedTuple):
    """A full-match RE2 pattern (``operators.parse.re2_pattern``, its groups
    named by ``keys``) that the decode stage runs over the decoded lines of
    the rows whose ``source`` column equals ``source``."""

    source: str
    pattern: str
    keys: tuple[str, ...]


# the columns a LineRegex adds to the decode stage's output
REGEX_OK = "regex_ok"
REGEX_GROUPS = "regex_groups"


def _groups_map(got: pa.StructArray, ok: np.ndarray, keys: tuple[str, ...]) -> pa.MapArray:
    """``extract_regex``'s struct of groups as one ``map<string,string>`` per
    row, the entries in ``keys`` order; null where ``ok`` is false. The values
    are gathered row-major by one ``take`` over the concatenated groups."""
    k, n, rows = len(keys), len(ok), np.flatnonzero(ok)
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(ok.astype(np.int32) * k, out=offsets[1:])
    flat = pa.concat_arrays([got.field(j) for j in range(k)])
    items = flat.take(pa.array((rows[:, None] + np.arange(k) * n).ravel()))
    names = pa.array(keys, pa.string()).take(pa.array(np.tile(np.arange(k), len(rows))))
    return pa.MapArray.from_arrays(pa.array(offsets, mask=np.append(~ok, False)), names, items)


def decode_tokens_arrow(
    df: DataFrame,
    tokens_col: str = "tokens",
    out_col: str = "content",
    drop_tokens: bool = False,
    regex: LineRegex | None = None,
    groups: bool = False,
) -> DataFrame:
    """Arrow-batched decode: adds ``out_col`` string column from ``tokens_col``.

    One ``mapInArrow`` pass; each batch is decoded by ``decode_list_array``
    and every other column passes through as the batch's own Arrow array.

    ``drop_tokens=True`` excludes the token array from the OUTPUT schema —
    a ``.drop`` after the stage cannot be pushed into it, so without this the
    decoded batch ships the (dominant) token arrays back Python→JVM only to
    discard them one projection later.

    ``regex``: the stage also full-matches the lines of ``regex.source``'s
    rows with RE2 and adds ``REGEX_OK``, true where such a line matches and
    false on every other row. With ``groups=True`` it adds ``REGEX_GROUPS``
    too: the groups as a ``map<string,string>`` keyed by ``regex.keys``
    (null where ``REGEX_OK`` is false). Those rows' ``out_col`` is null: they
    are parsed, so their lines are not shipped back to the JVM. The output of
    a Python stage cannot be pruned, so a caller that reads only the flag
    leaves ``groups`` off and no map is built.

    NOTE: filters on other columns (e.g. ``source``) cannot be pushed through
    mapInArrow by Catalyst — apply them BEFORE calling this."""
    from pyspark.sql.types import BooleanType, MapType, StringType, StructField, StructType

    keep = [f for f in df.schema.fields if not (drop_tokens and f.name == tokens_col)]
    added = [StructField(out_col, StringType())]
    if regex is not None:
        added.append(StructField(REGEX_OK, BooleanType()))
        if groups:
            added.append(StructField(REGEX_GROUPS, MapType(StringType(), StringType())))
    schema = StructType([*keep, *added])

    def mapper(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            content = decode_list_array(batch.column(tokens_col))
            cols = [batch.column(f.name) for f in keep]
            parsed = []
            if regex is not None:
                mine = pc.fill_null(pc.equal(batch.column("source"), regex.source), False)
                if groups:
                    got = pc.extract_regex(content, regex.pattern)
                    ok = pc.and_(mine, got.is_valid())
                    parsed = [ok, _groups_map(got, ok.to_numpy(zero_copy_only=False), regex.keys)]
                else:
                    parsed = [pc.and_(mine, pc.match_substring_regex(content, regex.pattern))]
                # a take through null indices, not if_else: if_else would keep
                # the nulled lines' bytes in the data buffer it ships back
                skip = mine.to_numpy(zero_copy_only=False)
                content = content.take(pa.array(np.arange(len(content)), mask=skip))
            yield pa.RecordBatch.from_arrays([*cols, content, *parsed], names=schema.names)

    return df.mapInArrow(mapper, schema=schema)
