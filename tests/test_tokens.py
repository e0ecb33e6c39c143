import pyspark.sql.functions as F

from loongcollector_spark.tokens import decode_tokens, decode_tokens_arrow, encode_line

LINES = [
    '::1 - - [18/Jul/2022:07:28:01 +0000] "GET /hello/ilogtail HTTP/1.1" 404 153 "-" "curl/7.74.0" "-"',
    "value1\tvalue2",
    '{"url":"POST /PutData HTTP/1.1","status":200}',
    "",  # encodes to the empty array
    "plain text",
    "héllo wörld ñ",  # Latin-1
    "日本語のログ",  # CJK
    "😀x 𝄞",  # astral
    "\ufeffbom first",  # a leading U+FEFF is text, not a byte-order mark
]


def test_roundtrip_jvm(spark):
    df = spark.createDataFrame([(l,) for l in LINES], ["line"])
    out = df.select(
        "line", decode_tokens(encode_line(F.col("line"))).alias("back")
    ).collect()
    for r in out:
        assert r.back == r.line


def test_arrow_decode_matches_jvm(spark):
    df = spark.createDataFrame([(l,) for l in LINES], ["line"]).select(
        "line", encode_line(F.col("line")).cast("array<int>").alias("tokens")
    )
    arrow = decode_tokens_arrow(df, "tokens", "content").select(
        "line", "content", decode_tokens("tokens").alias("jvm")
    )
    for r in arrow.collect():
        assert r.content == r.jvm == r.line


def test_arrow_decode_nulls_match_jvm(spark):
    """A null token array decodes to '' and a null token is skipped, on both
    decodes."""
    df = spark.createDataFrame(
        [(0, [104, 105]), (1, None), (2, []), (3, [104, None, 105])],
        "i int, tokens array<int>",
    )
    out = decode_tokens_arrow(df, "tokens", "content").select(
        "i", "content", decode_tokens("tokens").alias("jvm")
    )
    got = sorted((r.i, r.content, r.jvm) for r in out.collect())
    assert got == [(0, "hi", "hi"), (1, "", ""), (2, "", ""), (3, "hi", "hi")]


def test_token_array_equality_invariant(spark, sf_dir):
    """Per-row invariant vs reference (BASELINE.json input_hint): untouched rows
    decode→re-encode bit-exact."""
    from loongcollector_spark.synth import sequences_df

    seq = sequences_df(spark, sf_dir).limit(200)
    re_encoded = seq.select(
        "tokens",
        encode_line(decode_tokens("tokens")).cast("array<int>").alias("tokens2"),
    )
    bad = re_encoded.filter(F.col("tokens") != F.col("tokens2")).count()
    assert bad == 0
