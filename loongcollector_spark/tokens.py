"""Token codec for the pre-tokenized sequences table (BASELINE.json input_hint:
``(doc_id string, tokens array<int>, n_tok int, source string)``).

Vocabulary: identity codepoint encoding — ``tokens[i] = ord(line[i])`` (ASCII
synthetic lines), exactly reversible, so the per-row invariant "token-array
equality" reduces to string equality after decode→process→re-encode.

Two decode paths:
- **Arrow path** (``decode_tokens_arrow``): numpy-vectorized decode inside
  ``mapInPandas`` — the flagship's decode, one stage for every source
  (north_star: "vectorized pandas/Arrow UDF stage ... no per-row Python").
- **JVM path** (``decode_tokens``, Catalyst/codegen, no Python): ``transform
  + char + concat_ws`` — the oracle decode of the oracle-checked queries in
  queries.py, a plain expression DuckDB can reproduce.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def encode_line(col) -> Column:
    """line string -> array<int> of codepoints (JVM-side).

    ``split('', '')`` yields [''] → codepoint 0; filtered out so the empty
    string encodes to []. Synthetic lines never contain NUL."""
    c = col if isinstance(col, Column) else F.col(col)
    return F.filter(F.transform(F.split(c, ""), lambda ch: F.ascii(ch)), lambda t: t != 0)


def decode_tokens(col) -> Column:
    """array<int> codepoints -> line string (JVM-side, whole-stage codegen)."""
    c = col if isinstance(col, Column) else F.col(col)
    return F.concat_ws("", F.transform(c, lambda t: F.char(t)))


def _decode_np(tokens) -> str:
    # tokens is a numpy array of int32/int64 codepoints (ASCII subset)
    import numpy as np

    arr = np.asarray(tokens, dtype=np.uint32)
    if arr.size == 0:
        return ""
    if (arr < 128).all():
        return arr.astype(np.uint8).tobytes().decode("ascii")
    return "".join(map(chr, arr.tolist()))


def _decode_batch(token_lists) -> list[str]:
    """Whole-batch decode: concatenate every row's codepoints into ONE buffer,
    one ndarray→bytes conversion, then slice per row by offsets. The only
    per-row Python is the bytes slice + decode (no per-token work)."""
    import numpy as np

    if len(token_lists) == 0:
        return []
    lens = np.fromiter((len(t) for t in token_lists), dtype=np.int64, count=len(token_lists))
    if lens.sum() == 0:
        return [""] * len(token_lists)
    flat = np.concatenate([np.asarray(t, dtype=np.uint32) for t in token_lists])
    if (flat < 128).all():
        buf = flat.astype(np.uint8).tobytes()
        offs = np.zeros(len(lens) + 1, dtype=np.int64)
        np.cumsum(lens, out=offs[1:])
        return [
            buf[offs[i] : offs[i + 1]].decode("ascii") for i in range(len(lens))
        ]
    return [_decode_np(t) for t in token_lists]


def decode_tokens_arrow(
    df: DataFrame,
    tokens_col: str = "tokens",
    out_col: str = "content",
    drop_tokens: bool = False,
) -> DataFrame:
    """Arrow-batched decode: adds ``out_col`` string column from ``tokens_col``.

    One Python worker pass over Arrow batches; whole-batch numpy decode (one
    buffer concat + per-row slice — no per-token Python).

    ``drop_tokens=True`` excludes the token array from the OUTPUT schema —
    a ``.drop`` after the stage cannot be pushed into it, so without this the
    decoded batch ships the (dominant) token arrays back Python→JVM only to
    discard them one projection later.

    NOTE: filters on other columns (e.g. ``source``) cannot be pushed through
    mapInPandas by Catalyst — apply them BEFORE calling this."""
    from pyspark.sql.types import StringType, StructField, StructType

    fields = list(df.columns)
    out_names = [c for c in fields if not (drop_tokens and c == tokens_col)]
    out_fields = [
        f for f in df.schema.fields if not (drop_tokens and f.name == tokens_col)
    ]
    if out_col not in fields:
        out_fields.append(StructField(out_col, StringType()))
        emit = [*out_names, out_col]
    else:
        emit = out_names
    schema = StructType(out_fields)

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf[out_col] = _decode_batch(pdf[tokens_col].values)
            yield pdf[emit]

    return df.mapInPandas(mapper, schema=schema)
