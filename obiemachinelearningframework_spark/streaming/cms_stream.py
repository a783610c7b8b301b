"""Streaming count-min sketch — continuous token-frequency estimation.

The batch operator (queries.q_topk_cms) sketches a corpus at rest; at
ingestion time the question is "how often has token X occurred SO FAR",
and the CMS answers it continuously because the sketch is MERGEABLE:
counters add, so

    sketch(all data) == sketch(batch 1) + sketch(batch 2) + ...

exactly (not approximately — merging loses nothing; the estimate error
comes only from bucket collisions, which are identical either way since
both sides use queries.cms_bucket_array). Each micro-batch folds its
{CMS_D}x{CMS_W}-integer batch sketch into a persistent running sketch in
``foreachBatch`` (the merge must read current state, which a plain
streaming sink cannot), committed by the A/B write-then-flip of
sources/commit.py — a crash mid-batch leaves the previous sketch
intact and the restarted drain re-applies the batch from the streaming
checkpoint. Because counter addition is not idempotent, the epoch id is
committed atomically with the flip and a replayed epoch is skipped —
without that guard a crash between the flip and the checkpoint's epoch
commit would double-count the batch.

Mergeability is THE scale property here: on a real cluster every
executor builds a partial sketch map-side and the exchange carries only
D*W counters per task — the same reason the batch plan's aggregate is
cheap makes the streaming state O(1) in stream length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..queries import cms_bucket_array
from ..sources import commit
from .dedup_stream import DOC_SCHEMA

SKETCH_SCHEMA = T.StructType([
    T.StructField("r", T.IntegerType()),
    T.StructField("bucket", T.LongType()),
    T.StructField("cnt", T.LongType()),
])


def batch_sketch(docs: DataFrame) -> DataFrame:
    """(r, bucket, cnt) counters for one batch of documents — one token
    scan, one fixed-size aggregate."""
    return (
        docs.select(
            F.posexplode(F.split("text", " ")).alias("pos", "token")
        )
        .filter(F.col("token") != "")
        .select(
            F.posexplode(cms_bucket_array(F.md5("token"))).alias(
                "r", "bucket"
            )
        )
        .groupBy("r", "bucket")
        .agg(F.count("*").alias("cnt"))
    )


def read_sketch(spark: SparkSession, state_dir: str) -> DataFrame:
    """Current committed running sketch (empty if none committed yet)."""
    path = commit.current(state_dir)
    if path is None:
        return spark.createDataFrame([], SKETCH_SCHEMA)
    return spark.read.parquet(path)


def estimate(sketch: DataFrame, tokens: list[str]) -> dict[str, int]:
    """Point estimates for ``tokens`` from a (r, bucket, cnt) sketch:
    min over hash rows; 0 for a token whose buckets were never hit."""
    spark = sketch.sparkSession
    cand = (
        spark.createDataFrame([(t,) for t in tokens], ["token"])
        .select(
            "token",
            F.posexplode(cms_bucket_array(F.md5("token"))).alias(
                "r", "bucket"
            ),
        )
    )
    rows = (
        cand.join(F.broadcast(sketch), ["r", "bucket"], "left")
        .groupBy("token")
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("n_est"))
        .collect()
    )
    return {r.token: r.n_est for r in rows}


def _merge_batch(
    spark: SparkSession, docs: DataFrame, state_dir: str, epoch_id: int,
    run_id: str,
) -> None:
    # counter addition is NOT idempotent (unlike kg_stream's
    # anti-join+union), so replaying a batch after a crash in the window
    # between the A/B flip and the streaming checkpoint's epoch commit
    # would double-count. The epoch id therefore commits WITH the flip:
    # a replayed epoch <= the committed one is a no-op — but only within
    # the SAME streaming checkpoint (run_id); a fresh checkpoint restarts
    # epochs at 0 and must not be mistaken for a replay (guard_replay).
    if not commit.guard_replay(state_dir, epoch_id, run_id):
        return
    merged = (
        read_sketch(spark, state_dir)
        .unionByName(batch_sketch(docs))
        .groupBy("r", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    commit.flip(state_dir, lambda path: merged.write.mode("overwrite").parquet(path),
                epoch=epoch_id, run=run_id)


def stream_cms(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    checkpoint_dir: str,
):
    """Drain the document files in ``input_dir`` into the running CMS
    under ``state_dir``. Returns the finished StreamingQuery."""
    state_dir = commit.local_dir(state_dir)
    src = spark.readStream.schema(DOC_SCHEMA).parquet(input_dir)
    # run identity resolves INSIDE foreachBatch: the checkpoint's metadata
    # (and its unique query id) exists only once the stream has started
    writer = (
        src.writeStream
        .foreachBatch(
            lambda batch, bid: _merge_batch(
                spark, batch, state_dir, bid, commit.run_id(checkpoint_dir)))
        .option("checkpointLocation", checkpoint_dir)
    )
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    return q
