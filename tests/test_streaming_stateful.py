"""Stateful streaming merge: partial records buffered in keyed state across
micro-batch boundaries (the agent's cross-read partial-log buffer)."""

import pytest

from loongcollector_spark.streaming.pipeline import stateful_merge_by_flag


def test_merge_by_flag_across_batches(spark, tmp_path):
    inp = str(tmp_path / "in")
    # batch 1: doc A starts a partial record; doc B completes one
    spark.createDataFrame(
        [("A", 0, "hello ", "P"), ("B", 0, "whole-b", "F")],
        ["doc_id", "line_no", "content", "flag"],
    ).coalesce(1).write.mode("append").parquet(inp)
    # batch 2: doc A continues and completes; plus a second full record
    spark.createDataFrame(
        [("A", 1, "wor", "P"), ("A", 2, "ld", "F"), ("A", 3, "next", "F")],
        ["doc_id", "line_no", "content", "flag"],
    ).coalesce(1).write.mode("append").parquet(inp)
    schema = spark.read.parquet(inp).schema

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(inp)
    merged = stateful_merge_by_flag(stream)

    got = []

    def process(bdf, epoch):
        got.extend(
            (r["doc_id"], r["record_start"], r["record"]) for r in bdf.collect()
        )

    q = (
        merged.writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert sorted(got) == [
        ("A", 0, "hello world"),  # spans both micro-batches
        ("A", 3, "next"),
        ("B", 0, "whole-b"),
    ]


def test_kv_splitter_arrow_quote_aware(spark):
    import pyspark.sql.functions as F

    from loongcollector_spark.operators.base import FIELDS, to_events
    from loongcollector_spark.operators.transforms import KeyValueSplitter

    line = 'k1:v1\tk2:"va\tl:ue"\tk3:"do""q"'
    ev = to_events(spark.createDataFrame([(0, line)], ["i", "content"]))
    out = KeyValueSplitter(delimiter="\t", separator=":", quote='"').apply(ev)
    f = dict(out.collect()[0][FIELDS])
    assert f == {"k1": "v1", "k2": "va\tl:ue", "k3": 'do"q'}


def test_kv_splitter_arrow_matches_plain_when_unquoted(spark):
    from loongcollector_spark.operators.base import FIELDS, to_events
    from loongcollector_spark.operators.transforms import KeyValueSplitter

    rows = [(i, f"a:{i}\tb:x{i}\tnosep{i}") for i in range(10)]
    ev = to_events(spark.createDataFrame(rows, ["i", "content"]))
    plain = {r["i"]: dict(r[FIELDS]) for r in KeyValueSplitter().apply(ev).collect()}
    quoted = {
        r["i"]: dict(r[FIELDS])
        for r in KeyValueSplitter(quote="\x00").apply(ev).collect()
    }
    assert plain == quoted


def test_timestamp_parser_epoch(spark):
    import pyspark.sql.functions as F

    from loongcollector_spark.operators.base import to_events
    from loongcollector_spark.operators.common import ParserOptions
    from loongcollector_spark.operators.parse import TimestampParser

    ev = to_events(
        spark.createDataFrame([(0, "1704450030"), (1, "not-a-ts")], ["i", "content"])
    )
    out = TimestampParser("epoch", ParserOptions(keep_fail=True)).apply(ev)
    rows = {r["i"]: r["event_time"] for r in out.collect()}
    assert rows[0] is not None and rows[0].year == 2024
    assert rows[1] is None

    ev2 = to_events(spark.createDataFrame([(0, "1704450030123")], ["i", "content"]))
    out2 = TimestampParser("epoch_milli", ParserOptions(keep_fail=True)).apply(ev2)
    assert out2.collect()[0]["event_time"].year == 2024


@pytest.mark.parametrize(
    "fmt, value",
    [("epoch", "1704450030"), ("epoch_auto", "1704450030"), ("epoch_milli", "1704450030123")],
)
def test_timestamp_epoch_rejects_trailing_newline(spark, fmt, value):
    """Each epoch format full-matches its digits, so a value with a trailing
    newline fails the line (java.util.regex ``$`` also matches before a
    final line terminator)."""
    from loongcollector_spark.operators.base import to_events
    from loongcollector_spark.operators.common import ParserOptions
    from loongcollector_spark.operators.parse import TimestampParser

    ev = to_events(spark.createDataFrame([(0, value), (1, value + "\n")], ["i", "content"]))
    out = TimestampParser(fmt, ParserOptions(keep_fail=True)).apply(ev)
    rows = {r["i"]: r["event_time"] for r in out.collect()}
    assert rows[0] is not None and rows[0].year == 2024
    assert rows[1] is None


def _run_stream_merge(spark, tmp_path, batches, **kw):
    from loongcollector_spark.streaming.pipeline import stateful_merge_by_regex

    inp = str(tmp_path / "in")
    for batch in batches:
        spark.createDataFrame(
            batch, ["doc_id", "line_no", "content"]
        ).coalesce(1).write.mode("append").parquet(inp)
    schema = spark.read.parquet(inp).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(inp)
    merged = stateful_merge_by_regex(stream, **kw)
    got = []

    def process(bdf, epoch):
        got.extend((r["doc_id"], r["record_start"], r["record"]) for r in bdf.collect())

    q = (
        merged.writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return sorted(got)


def test_merge_by_regex_start_end_across_batches(spark, tmp_path):
    """A start..end record spanning two micro-batches must merge exactly as
    the batch-mode SplitMultiline golden on the same lines."""
    lines = [
        ("A", 0, "START one"),
        ("A", 1, "  mid"),
        ("A", 2, "tail END"),      # arrives in batch 2
        ("A", 3, "START two END"),
        ("B", 0, "START b END"),
    ]
    got = _run_stream_merge(
        spark,
        tmp_path,
        [lines[:2] + [lines[4]], lines[2:4]],
        start_pattern=r"^START",
        end_pattern=r"END$",
    )
    # NB: the reference never closes a record on its own start line (the end
    # check applies only to SUBSEQUENT lines, MergeLogsByRegex:226-229), so
    # the single-line 'START ... END' records stay open in state / unmatched
    # at batch group end — only the spanning record completes.
    assert got == [("A", 0, "START one\n  mid\ntail END")]

    # batch-mode golden on the same lines (all records complete)
    import pyspark.sql.functions as F

    from loongcollector_spark.operators.base import FIELDS, fget
    from loongcollector_spark.operators.split import SplitMultiline

    df = spark.createDataFrame(lines, ["doc_id", "line_no", "content"]).select(
        "doc_id", "line_no",
        F.create_map(F.lit("content"), F.col("content")).alias(FIELDS),
    )
    batch = SplitMultiline(
        start_pattern=r"^START", end_pattern=r"END$", order_col="line_no"
    ).apply(df)
    batch_rows = sorted(
        (r["doc_id"], r["line_no"], r[FIELDS]["content"]) for r in batch.collect()
    )
    assert batch_rows == got


def test_merge_by_regex_start_only_and_unmatched(spark, tmp_path):
    """start-only: a record closes when the NEXT start arrives — even in a
    later micro-batch; leading unmatched lines honor the treatment."""
    b1 = [("A", 0, "junk"), ("A", 1, "START r1"), ("A", 2, "  more")]
    b2 = [("A", 3, "START r2"), ("A", 4, "  x"), ("A", 5, "START r3")]
    got = _run_stream_merge(
        spark, tmp_path, [b1, b2], start_pattern=r"^START", unmatched="single_line"
    )
    # r3 stays open in state (no end-of-stream flush) — r1, r2 and the
    # unmatched junk line are out
    assert got == [
        ("A", 0, "junk"),
        ("A", 1, "START r1\n  more"),
        ("A", 3, "START r2\n  x"),
    ]


def test_merge_by_regex_continue_end(spark, tmp_path):
    """continue+end: record = continue-matches closed by an end; a lone
    end-matching line is its own record (MergeLogsByRegex:230-239)."""
    b1 = [("A", 0, "C a"), ("A", 1, "C b")]
    b2 = [("A", 2, "fin E"), ("A", 3, "solo E"), ("A", 4, "junk")]
    got = _run_stream_merge(
        spark, tmp_path, [b1, b2],
        continue_pattern=r"^C ", end_pattern=r"E$",
    )
    assert got == [("A", 0, "C a\nC b\nfin E"), ("A", 3, "solo E")]
