"""Checkpoint/resume: one dynamic-overwrite commit for every unfinished unit,
then one done-marker per unit, so a killed run replays only the units without
a marker (north rule: "resumable from checkpoint with per-partition lineage").

Reference analog: exactly-once range checkpoints for file→SLS
(core/file_server/checkpoint/RangeCheckpoint.h:27) and the Go leveldb
checkpoint manager (pluginmanager/checkpoint_manager.go:40-114). Spark-first
shape: the unit of resume is a sink, a partition value of one
``partitionBy("unit")`` parquet commit under dynamic partition overwrite (the
Iceberg ``overwritePartitions`` analogue), which replaces the partitions it
writes whole and never touches the others (completed units, ``_manifest/``).
The write owns its layout: one AQE rebalance on the sink column, which
coalesces small partitions and splits oversized ones, so a hot sink is
written by several tasks and a cold one does not get a task of its own. Each
written row carries the lineage of the write partition that produced it, and
each marker stores its unit's counts, observed by that same action."""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass
from typing import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession

from ..aggregate import with_lineage
from ..routing import SINK_COL


@dataclass
class Manifest:
    """Driver-side completion manifest: one JSON marker file per unit."""

    path: str

    def _marker(self, unit: str) -> str:
        return os.path.join(self.path, f"{unit}.done.json")

    def done_units(self) -> set[str]:
        names = os.listdir(self.path) if os.path.isdir(self.path) else []
        return {f[: -len(".done.json")] for f in names if f.endswith(".done.json")}

    def mark_done(self, unit: str, meta: dict | None = None) -> None:
        os.makedirs(self.path, exist_ok=True)
        tmp = self._marker(unit) + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"unit": unit, "ts": time.time(), **(meta or {})}, f)
        os.replace(tmp, self._marker(unit))  # atomic publish

    def counts(self, units: Sequence[str]) -> dict[str, dict]:
        """Each unit's counts, as its marker stored them."""
        out = {}
        for u in units:
            with open(self._marker(u)) as f:
                out[u] = json.load(f)["counts"]
        return out


def resumable_write(
    df: DataFrame, units: Sequence[str], out_dir: str, manifest: Manifest
) -> list[str]:
    """Write the rows of every sink of ``units`` without a marker to
    ``out_dir/unit=<sink>/`` in ONE Spark action, then publish a marker per
    sink holding that action's counts: ``events``, plus ``tokens_total`` (sum
    of ``n_tok``) when ``df`` has it. Returns the sinks written: ``[]``, with
    no Spark job, when all are done. A sink cut off before its marker is
    rewritten whole on resume; a done sink's files are never touched. A sink
    with no rows gets ``events: 0``, and this run writes no ``unit=<sink>/``
    directory for it.

    The pending rows are rebalanced by sink (AQE sizes the write partitions)
    and then stamped with ``__pack_id__``, so it names the write partition of
    each row. The counters sit above that exchange, in the write's result
    stage: Spark applies their accumulators once per partition, so task
    retries cannot double-count."""
    done = manifest.done_units()
    pending = [u for u in units if u not in done]
    if not pending:
        return []
    os.makedirs(manifest.path, exist_ok=True)
    measures = {"events": F.lit(1)}
    if "n_tok" in df.columns:
        measures["tokens_total"] = F.col("n_tok")
    aggs = [
        F.coalesce(F.sum(F.when(F.col(SINK_COL) == u, m)), F.lit(0)).alias(f"{k}_{i}")
        for i, u in enumerate(pending)
        for k, m in measures.items()
    ]
    obs = Observation()
    todo = df.filter(F.col(SINK_COL).isin(pending)).hint("rebalance", SINK_COL)
    (
        with_lineage(todo)
        .observe(obs, *aggs)
        .withColumnRenamed(SINK_COL, "unit")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("unit")
        .parquet(out_dir)
    )
    got = obs.get
    for i, u in enumerate(pending):
        path = os.path.join(out_dir, f"unit={u}")
        counts = {k: got[f"{k}_{i}"] for k in measures}
        manifest.mark_done(u, {"path": path, "counts": counts})
    return pending


def read_all_units(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read the union of all unit directories (basePath keeps the unit
    partition column out of the data)."""
    return spark.read.option("basePath", out_dir).parquet(f"{out_dir}/unit=*")
