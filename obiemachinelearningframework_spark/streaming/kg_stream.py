"""Streaming KG maintenance: a triple stream MERGEd into a snapshot.

Batch-side the pair (kg_snapshot_diff, kg_snapshot_apply) maintains the
KG between runs; THIS module is the continuous form — triples landing
as a stream are folded into a persistent snapshot table with MERGE
semantics inside ``foreachBatch``:

    readStream (subj, pred, obj, op)        op in {'add', 'retract'}
      -> foreachBatch:
           snapshot := (snapshot ANTI-JOIN batch-keys) UNION batch-adds

Why foreachBatch and not a plain streaming sink: a MERGE needs to read
the current snapshot, which streaming sinks cannot; foreachBatch gives
each micro-batch a consistent batch-side view plus the streaming
checkpoint's exactly-once batch ids. The snapshot flips between two
directories (A/B) every batch — the write-then-flip commit of
sources/commit.py, so a crash mid-batch leaves the previous
snapshot intact and the restarted query re-applies the batch
idempotently (last-wins per key inside a batch; anti-join + union is
idempotent under re-application).

At scale the anti-join shuffles on the triple key both sides — the key
the snapshot is already clustered by when written bucketed
(sources/bucketed.py), making the recurring MERGE exchange-free on the
snapshot side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..sources import commit

TRIPLE_OP_SCHEMA = T.StructType([
    T.StructField("subj", T.StringType()),
    T.StructField("pred", T.StringType()),
    T.StructField("obj", T.StringType()),
    T.StructField("op", T.StringType()),
])

_KEY = ["subj", "pred", "obj"]


def read_snapshot(spark: SparkSession, snapshot_dir: str) -> DataFrame:
    """Current committed snapshot (empty if none committed yet)."""
    path = commit.current(snapshot_dir)
    if path is None:
        return spark.createDataFrame([], T.StructType(TRIPLE_OP_SCHEMA.fields[:3]))
    return spark.read.parquet(path)


def _merge_batch(spark: SparkSession, batch: DataFrame, snapshot_dir: str) -> None:
    snap = read_snapshot(spark, snapshot_dir)
    # within one micro-batch, ADD wins per key: the op rows carry no
    # sequence column, so "last" is undefined inside a batch — a key with
    # both ops (e.g. retract then re-add) deterministically lands present
    # regardless of file/partition order (pinned by test_kg_stream)
    keys = batch.select(*_KEY).distinct()
    adds = batch.filter(F.col("op") == "add").select(*_KEY).distinct()
    merged = snap.join(keys, _KEY, "left_anti").unionByName(adds)
    commit.flip(snapshot_dir, lambda path: merged.write.mode("overwrite").parquet(path))


def stream_kg_merge(
    spark: SparkSession,
    input_dir: str,
    snapshot_dir: str,
    checkpoint_dir: str,
):
    """Drain the triple-op files in ``input_dir`` into the MERGEd
    snapshot under ``snapshot_dir``. Returns the finished
    StreamingQuery."""
    snapshot_dir = commit.local_dir(snapshot_dir)
    src = spark.readStream.schema(TRIPLE_OP_SCHEMA).parquet(input_dir)
    writer = (
        src.writeStream
        .foreachBatch(lambda batch, _bid: _merge_batch(spark, batch, snapshot_dir))
        .option("checkpointLocation", checkpoint_dir)
    )
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    return q
