"""Streaming flagship: the full parse→enrich→route pipeline over a
file-source stream, foreachBatch micro-batches, equals the batch result."""

from loongcollector_spark import flagship
from loongcollector_spark.streaming.pipeline import read_stream, run_available_now
from loongcollector_spark.synth import sequences_df


def test_streaming_pipeline_matches_batch(spark, sf_dir, tmp_path):
    inp = str(tmp_path / "sequences")
    # materialize the pre-tokenized table as several files → several
    # micro-batch-able splits
    sequences_df(spark, sf_dir).repartition(4).write.parquet(inp)
    schema = spark.read.parquet(inp).schema

    batch_expect = sorted(
        (r["sink"], r["doc_id"])
        for r in flagship.routed_rows(spark, sf_dir).collect()
    )

    got = []

    def process(bdf, epoch_id):
        routed = flagship.routed_from(spark, bdf)
        got.extend((r["sink"], r["doc_id"]) for r in routed.select("sink", "doc_id").collect())

    stream = read_stream(spark, inp, schema, max_files_per_trigger=2)
    q = run_available_now(stream, str(tmp_path / "ckpt"), process)
    q.awaitTermination(180)
    assert sorted(got) == batch_expect
