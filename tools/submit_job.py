"""spark-submit entrypoint for the flagship pipeline (north rule: "run via
spark-submit --py-files on multi-executor clusters").

Usage (local sandbox — swap --master for yarn/k8s on a real cluster):

    cd /root/repo && zip -qr /tmp/loongcollector_spark.zip loongcollector_spark
    spark-submit --master 'local[8]' \
        --py-files /tmp/loongcollector_spark.zip \
        tools/submit_job.py \
        --sf-dir /root/testdata/sf0.001 --out /tmp/lc_out

The job: read the pre-tokenized sequences → parse→enrich→route → ONE
partitioned parquet write, rebalanced by sink, of every sink without a
done-marker (checkpoint manifest under <out>/_manifest) → print per-sink
aggregates as one JSON line.
The write is the job's only Spark action: the aggregates are the counts each
sink's marker stored from that action, so scan→decode→parse→route runs once
whatever the number of sinks. Re-running with the same --out resumes:
completed sinks are skipped, and a resume with every sink done runs no Spark
job at all.
"""

from __future__ import annotations

import argparse
import json


def run(spark, sf_dir: str, out: str) -> dict:
    """The job's result: the sinks written and skipped this run, every
    sink's aggregates from its marker, and ``observed``, the counters of the
    sinks this run wrote (``None`` when it wrote nothing)."""
    from loongcollector_spark import flagship
    from loongcollector_spark.plans.checkpoint import Manifest, resumable_write
    from loongcollector_spark.synth import ROUTE_RULES

    sinks = [r["sink"] for r in ROUTE_RULES]
    manifest = Manifest(f"{out}/_manifest")
    written = []
    # building the plan reads parquet footers, itself a Spark job: skip it
    # when every sink is already committed
    if not manifest.done_units() >= set(sinks):
        written = resumable_write(flagship.routed(spark, sf_dir), sinks, out, manifest)
    aggs = manifest.counts(sinks)
    return {
        "written_sinks": written,
        "skipped_sinks": [s for s in sinks if s not in written],
        "aggregates": aggs,
        "observed": {s: aggs[s] for s in written} or None,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("loongcollector-spark-job").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from loongcollector_spark.session import configure_existing

    configure_existing(spark)
    print(json.dumps(run(spark, args.sf_dir, args.out)))
    spark.stop()


if __name__ == "__main__":
    main()
