"""Property-based tests (hypothesis) for the pure-Python kernels — no
SparkSession needed, so these run in milliseconds."""

import hashlib
import re

import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from loongcollector_spark.dataops.similarity import hyperplanes
from loongcollector_spark.operators.parse import expand_grok
from loongcollector_spark.tokens import decode_list_array

ascii_text = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=200
)
unicode_text = st.text(alphabet=st.characters(exclude_categories=("Cs",)), max_size=50)
# a whole batch of ASCII lines takes the offsets-reuse path, any other the UTF-8 path
token_lists = st.one_of(st.lists(ascii_text, max_size=30), st.lists(unicode_text, max_size=30)).map(
    lambda lines: [[ord(c) for c in line] for line in lines]
)


def _per_row(tokens) -> list[str]:
    return ["".join(map(chr, t)) for t in tokens]


@given(token_lists)
@settings(max_examples=200, deadline=None)
def test_decode_batch_matches_per_row(tokens):
    arr = pa.array(tokens, pa.list_(pa.int32()))
    assert decode_list_array(arr).to_pylist() == _per_row(tokens)


@given(token_lists, st.data())
@settings(max_examples=200, deadline=None)
def test_decode_batch_matches_per_row_on_slices(tokens, data):
    offset = data.draw(st.integers(0, len(tokens)))
    length = data.draw(st.integers(0, len(tokens) - offset))
    arr = pa.array(tokens, pa.list_(pa.int32())).slice(offset, length)
    assert decode_list_array(arr).to_pylist() == _per_row(tokens[offset : offset + length])


@given(st.text(alphabet=st.characters(min_codepoint=1, max_codepoint=0x10FFFF,
                                      exclude_categories=("Cs",)), max_size=50))
@settings(max_examples=100, deadline=None)
def test_decode_np_roundtrips_any_unicode(s):
    # one line on its own: the batch kernel round-trips every non-surrogate code point
    arr = pa.array([[ord(c) for c in s]], pa.list_(pa.int32()))
    assert decode_list_array(arr).to_pylist() == [s]


@given(st.integers(1, 16), st.integers(1, 8))
@settings(max_examples=50)
def test_hyperplanes_shape_and_determinism(dim, n):
    a = hyperplanes(dim, n)
    assert len(a) == n and all(len(r) == dim for r in a)
    assert a == hyperplanes(dim, n)
    # derivation is the documented md5-parity rule
    h = hashlib.md5(b"0-0").hexdigest()
    assert a[0][0] == (1 if int(h[0], 16) % 2 == 0 else -1)


def test_expand_grok_produces_valid_regex():
    for pat in [
        "%{IP:client} %{WORD:method}",
        "%{NUMBER:n:int} %{GREEDYDATA:rest}",
        "%{COMBINEDAPACHELOG}",
    ]:
        rx = expand_grok(pat)
        re.compile(rx)  # must be a valid python regex
        assert "%{" not in rx  # fully expanded


@given(st.text(alphabet="abc123.:- ", min_size=1, max_size=40))
@settings(max_examples=100)
def test_expand_grok_literal_text_passthrough(s):
    # text without grok references expands to itself
    if "%{" not in s:
        assert expand_grok(s) == s


def test_csv_parser_matches_go_csv_fsm_on_generated_inputs(spark):
    """Property check: CsvParser's validity-regex + field-count machinery
    must agree with the strict quote FSM (split_quoted_strict — the same
    grammar Go encoding/csv accepts) on ~400 adversarial generated lines
    over {letters, comma, quote, space}."""
    import random

    from loongcollector_spark.operators.base import FIELDS, to_events
    from test_quote_grammar import split_quoted_strict

    from loongcollector_spark.operators.parse import CsvParser

    rng = random.Random(42)
    alphabet = ['a', 'b', ',', '"', ' ', '""', '","', 'x,y']
    lines = []
    for _ in range(400):
        n = rng.randint(0, 8)
        lines.append("".join(rng.choice(alphabet) for _ in range(n)))
    lines = sorted(set(lines))

    keys = ["f1", "f2", "f3"]
    df = to_events(
        spark.createDataFrame(
            [(i, l) for i, l in enumerate(lines)], ["i", "content"]
        )
    )
    out = CsvParser(keys).apply(df)
    got = {r["i"]: dict(r[FIELDS]) for r in out.collect()}

    for i, line in enumerate(lines):
        cols = split_quoted_strict(line, ",", '"')
        if cols is None:
            expect = {"content": line}  # Go csv error → source kept
        else:
            expect = {k: cols[j] for j, k in enumerate(keys) if j < len(cols)}
        assert got[i] == expect, (line, got[i], expect)


# --- r4 wire codec roundtrips (pure Python, no Spark) ------------------------

_sym = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), min_size=0, max_size=20
)


@given(
    st.lists(
        st.tuples(_sym.filter(bool), _sym,
                  st.lists(st.integers(1, 5), min_size=1, max_size=3)),
        min_size=0, max_size=5,
    ),
    st.lists(st.integers(1, 2**40), min_size=1, max_size=3),
    st.booleans(),
)
@settings(max_examples=60, deadline=None)
def test_pprof_builder_decode_roundtrip(funcs, values, gz):
    """PprofBuilder encode → decode_pprof recovers the structure."""
    from loongcollector_spark.operators.pprof_profile import PprofBuilder, decode_pprof

    b = PprofBuilder()
    b.sample_type("samples", "count")
    locs = []
    for name, filename, _ in funcs:
        locs.append(b.location([b.function(name, filename)]))
    if locs:
        b.sample(locs, values)
    p = decode_pprof(b.build(time_nanos=123, period=7, period_type=("t", "u"), gzipped=gz))
    st_tab = p["strtab"]
    assert p["time_nanos"] == 123 and p["period"] == 7
    assert [st_tab[t] for t, _ in p["sample_type"]] == ["samples"]
    if locs:
        assert len(p["samples"]) == 1
        loc_ids, vals, _ = p["samples"][0]
        assert vals == values
        # every location resolves to its function name
        got = [st_tab[p["functions"][p["locations"][l][0]][0]] for l in loc_ids]
        assert got == [n for n, _f, _v in funcs]


@given(
    st.dictionaries(st.integers(1, 2**31), st.dictionaries(st.integers(1, 100),
                    st.integers(1, 100), max_size=4), max_size=4),
    st.dictionaries(st.integers(1, 200), _sym, max_size=6),
)
@settings(max_examples=60, deadline=None)
def test_labels_snapshot_roundtrip_property(contexts, strings):
    from loongcollector_spark.operators.jfr import (
        decode_labels_snapshot,
        encode_labels_snapshot,
    )

    snap = decode_labels_snapshot(encode_labels_snapshot(contexts, strings))
    assert snap == {"contexts": contexts, "strings": strings}

# ---------------------------------------------------------------------------
# prom remote-write wire codec (operators/prom_rw.py)
# ---------------------------------------------------------------------------

_label = st.tuples(
    st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=20),
    st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=20),
)
_sample = st.tuples(
    st.floats(allow_nan=False, allow_infinity=True, width=64),
    st.integers(0, 2**62),
)


@given(st.lists(
    st.fixed_dictionaries({
        "labels": st.lists(_label, max_size=5),
        "samples": st.lists(_sample, max_size=5),
    }),
    max_size=6,
))
@settings(max_examples=100, deadline=None)
def test_prompb_write_request_roundtrip(series):
    """encode_write_request → decode_write_request is the identity on the
    (labels, samples) shape — any finite float value, any uint62 timestamp,
    any non-surrogate unicode label."""
    from loongcollector_spark.operators.prom_rw import (
        decode_write_request,
        encode_write_request,
    )

    assert decode_write_request(encode_write_request(series)) == series


@given(st.binary(max_size=3000))
@settings(max_examples=150, deadline=None)
def test_snappy_literal_roundtrip(data):
    from loongcollector_spark.operators.prom_rw import (
        snappy_compress,
        snappy_decompress,
    )

    assert snappy_decompress(snappy_compress(data)) == data


@given(
    st.binary(min_size=1, max_size=64),
    st.lists(st.tuples(st.integers(1, 80), st.integers(4, 64)), max_size=6),
)
@settings(max_examples=150, deadline=None)
def test_snappy_copy_elements_roundtrip(prefix, copies):
    """Hand-built streams with copy elements (1/2/4-byte offsets, including
    overlapping offset<length copies) decode to the reference expansion.
    snappy_compress is literal-only, so this is the only generator that
    exercises the decoder's copy paths systematically."""
    from loongcollector_spark.operators.prom_rw import snappy_decompress
    from loongcollector_spark.operators.pb import write_varint

    # reference model: literal prefix, then each (offset, length) copy
    # repeats bytes from `offset` back, byte-at-a-time (overlap semantics)
    expected = bytearray(prefix)
    stream = bytearray()
    # literal element for the prefix
    ln = len(prefix) - 1
    if ln < 60:
        stream.append(ln << 2)
    else:
        stream.append(60 << 2)
        stream += ln.to_bytes(1, "little")
    stream += prefix
    for off_raw, length in copies:
        offset = min(off_raw, len(expected))  # keep in range
        start = len(expected) - offset
        for k in range(length):
            expected.append(expected[start + k])
        # choose the narrowest encodable copy element
        if 4 <= length <= 11 and offset < (1 << 11):
            stream.append(((offset >> 8) << 5) | ((length - 4) << 2) | 1)
            stream += (offset & 0xFF).to_bytes(1, "little")
        elif length <= 64 and offset < (1 << 16):
            stream.append(((length - 1) << 2) | 2)
            stream += offset.to_bytes(2, "little")
        else:
            stream.append(((length - 1) << 2) | 3)
            stream += offset.to_bytes(4, "little")
    payload = write_varint(len(expected)) + bytes(stream)
    assert snappy_decompress(payload) == bytes(expected)
