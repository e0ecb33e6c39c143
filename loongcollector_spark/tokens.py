"""Token codec for the pre-tokenized sequences table (BASELINE.json input_hint:
``(doc_id string, tokens array<int>, n_tok int, source string)``).

Vocabulary: identity codepoint encoding — ``tokens[i] = ord(line[i])``,
exactly reversible for every Unicode scalar value, so the per-row invariant
"token-array equality" reduces to string equality after
decode→process→re-encode.

Two decode paths, equal on every input (a null token array decodes to ``''``,
a null token is skipped):
- **Arrow path** (``decode_tokens_arrow``): ``mapInArrow`` over the list
  buffers, whole-batch Arrow/numpy work (north_star: "vectorized
  pandas/Arrow UDF stage ... no per-row Python") — the flagship's decode.
- **JVM path** (``decode_tokens``, Catalyst/codegen, no Python): 8 hex digits
  per code point, ``unhex``, ``decode(.., 'UTF-32')`` — exact for all code
  points; the oracle decode of the oracle-checked queries in queries.py.
"""

from __future__ import annotations

from typing import Iterator

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
    kept as text rather than read as a BOM."""
    c = col if isinstance(col, Column) else F.col(col)
    hexed = F.array_join(F.transform(c, lambda t: F.lpad(F.hex(t), 8, "0")), "")
    utf32 = F.unhex(F.concat(F.lit("0000FEFF"), hexed))
    return F.coalesce(F.decode(utf32, "UTF-32"), F.lit(""))


def decode_list_array(tokens: pa.Array) -> pa.StringArray:
    """``list<int>`` of code points -> one string per row, no loop over rows.
    An all-ASCII batch reuses the list offsets as string offsets over one
    ``uint8`` cast of the values; any other takes one UTF-32→UTF-8 transcode.
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


def decode_tokens_arrow(
    df: DataFrame,
    tokens_col: str = "tokens",
    out_col: str = "content",
    drop_tokens: bool = False,
) -> DataFrame:
    """Arrow-batched decode: adds ``out_col`` string column from ``tokens_col``.

    One ``mapInArrow`` pass; each batch is decoded by ``decode_list_array``
    and every other column passes through as the batch's own Arrow array.

    ``drop_tokens=True`` excludes the token array from the OUTPUT schema —
    a ``.drop`` after the stage cannot be pushed into it, so without this the
    decoded batch ships the (dominant) token arrays back Python→JVM only to
    discard them one projection later.

    NOTE: filters on other columns (e.g. ``source``) cannot be pushed through
    mapInArrow by Catalyst — apply them BEFORE calling this."""
    from pyspark.sql.types import StringType, StructField, StructType

    keep = [f for f in df.schema.fields if not (drop_tokens and f.name == tokens_col)]
    schema = StructType([*keep, StructField(out_col, StringType())])

    def mapper(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            content = decode_list_array(batch.column(tokens_col))
            cols = [batch.column(f.name) for f in keep]
            yield pa.RecordBatch.from_arrays([*cols, content], names=schema.names)

    return df.mapInArrow(mapper, schema=schema)
