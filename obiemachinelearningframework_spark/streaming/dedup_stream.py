"""Streaming exact deduplication — content-hash dedup on a continuous
document stream.

The batch operator (queries.q_dedup_exact: sha2(text) groupBy, min-id
canonical) assumes the corpus is at rest; at ingestion time documents
arrive continuously and the duplicate must be dropped BEFORE it is ever
written, so the streaming form uses ``dropDuplicatesWithinWatermark`` on
the content hash: per-key state lives exactly as long as the watermark
horizon (late re-sends inside the horizon are suppressed, state is
reclaimed after it — bounded memory at any stream length, unlike a plain
``dropDuplicates`` whose state grows forever). Exactly-once to the parquet
sink via the streaming checkpoint — a re-drain appends nothing, and the
dedup state survives restarts in the same checkpoint.

At 100 TB/day scale the state store is partitioned by the hash (uniform by
construction), so the stateful stage shards evenly across executors; the
hash is computed map-side and is the ONLY column the state keeps.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F, types as T

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("ingest_ts", T.TimestampType()),
    ]
)


def stream_dedup_exact(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
):
    """Drain the documents in ``input_dir`` into first-seen-only documents
    in ``output_dir``. A duplicate text arriving within ``watermark`` of
    the original's event time is dropped, across files AND across drains
    (the dedup state is checkpointed). Returns the finished
    StreamingQuery."""
    src = spark.readStream.schema(DOC_SCHEMA).parquet(input_dir)
    deduped = (
        src.withColumn("content_sha", F.sha2("text", 256))
        .withWatermark("ingest_ts", watermark)
        .dropDuplicatesWithinWatermark(["content_sha"])
    )
    writer = (
        deduped.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    return q
