"""Checkpointed stage catalog with per-partition lineage + metrics.

North-rule requirement: every stage checkpoints so the job resumes
idempotently, with per-partition lineage and extraction metrics recorded
alongside. On a production cluster each ``write`` is an Iceberg
``writeTo(table).createOrReplace()`` (snapshot isolation gives resume +
time travel for free); this sandbox has no Iceberg runtime, so the
catalog emulates the same contract over parquet:

    <base>/<stage>/data/...            the stage output (optionally
                                       partitioned); a re-write of a
                                       committed stage goes to the other
                                       side, data_b/ (then data/ again)
    <base>/<stage>/_MANIFEST.json      schema + row count + user meta +
                                       the side holding the data;
                                       existence == stage committed
    <base>/<stage>/_lineage/<side>/... one row per output file:
                                       (stage, file, rows)
    <base>/_metrics.jsonl              append-only metrics log

Resume = ``exists()`` checks the manifest; an interrupted write leaves no
manifest, so the stage re-runs — same idempotence contract as an Iceberg
snapshot commit. The manifest is published by the atomic text write of
sources/commit.py, which also refuses non-local URIs. The reference's
analog is its Java-serialized corpus / model files
(``corpus/BigramCorpusProvider.java:116-131``,
``scorer/LibLinearScorer.java:93-105``) which have no lineage or
atomicity; this is the part the north rule adds beyond the reference.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import commit


class Checkpointer:
    def __init__(self, spark: SparkSession, base: str):
        self.spark = spark
        self.base = commit.local_dir(base).rstrip("/")

    def _dir(self, stage: str) -> str:
        return f"{self.base}/{stage}"

    def _manifest(self, stage: str) -> str:
        return f"{self._dir(stage)}/_MANIFEST.json"

    def exists(self, stage: str) -> bool:
        return os.path.exists(self._manifest(stage))

    def write(self, stage: str, df: DataFrame, partition_by: list[str] | None = None,
              meta: dict | None = None) -> DataFrame:
        """Write stage output + lineage, then commit the manifest (manifest
        last = atomic commit point). A committed stage is re-written on
        the side its manifest does not name, so a crash before the new
        manifest leaves the old commit whole. Returns the re-read DataFrame
        so downstream stages cut lineage at the checkpoint."""
        side = "data_b" if self.exists(stage) and self._side(stage) == "data" else "data"
        data = f"{self._dir(stage)}/{side}"
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(data)

        back = self.spark.read.parquet(data)
        lineage = (
            back.groupBy(F.input_file_name().alias("file"))
            .agg(F.count(F.lit(1)).alias("rows"))
            .withColumn("stage", F.lit(stage))
        )
        lineage.write.mode("overwrite").parquet(f"{self._dir(stage)}/_lineage/{side}")
        rows = int(lineage.agg(F.sum("rows")).collect()[0][0] or 0)

        manifest = {
            "stage": stage,
            "rows": rows,
            "schema": back.schema.jsonValue(),
            "partition_by": partition_by or [],
            "meta": meta or {},
            "data": side,
        }
        commit.write_text(self._manifest(stage), json.dumps(manifest))
        return back

    def read(self, stage: str) -> DataFrame:
        assert self.exists(stage), f"stage {stage} not committed"
        return self.spark.read.parquet(f"{self._dir(stage)}/{self._side(stage)}")

    def _side(self, stage: str) -> str:
        """The data side the committed manifest names (``data`` for a
        manifest written before stages had two sides)."""
        return self.manifest(stage).get("data", "data")

    def manifest(self, stage: str) -> dict:
        with open(self._manifest(stage)) as f:
            return json.load(f)

    def get_or_compute(self, stage: str, compute, partition_by=None, meta=None) -> DataFrame:
        """Idempotent stage execution: reuse the committed checkpoint or run
        ``compute()`` and commit it."""
        if self.exists(stage):
            return self.read(stage)
        return self.write(stage, compute(), partition_by=partition_by, meta=meta)

    def log_metrics(self, stage: str, metrics: dict) -> None:
        with open(f"{self.base}/_metrics.jsonl", "a") as f:
            f.write(json.dumps({"stage": stage, **metrics}) + "\n")

    def stage_metrics(self, stage: str) -> dict:
        """Latest metrics record logged for a stage ({} when none)."""
        path = f"{self.base}/_metrics.jsonl"
        out: dict = {}
        if os.path.exists(path):
            with open(path) as f:
                for line in f:
                    rec = json.loads(line)
                    if rec.get("stage") == stage:
                        out = rec
        return out
