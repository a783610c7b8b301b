"""Incremental mention detection with Structured Streaming.

The reference is batch-only (corpus loops,
``corpus/BigramCorpusProvider.java:149-188``); at 10^12-file scale the
corpus grows continuously, so the mention stage also runs as a stream:
new source files land in the input table, `readStream` picks them up,
the SAME mapInPandas mention UDF (no code fork) annotates them, and the
sink appends with exactly-once semantics via the streaming checkpoint —
the incremental-processing path of SURVEY.md §2.B. In production the
source is an Iceberg streaming read; the file source stands in here.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F, types as T

from ..operators.mentions import MENTION_SCHEMA, detect_mentions

SOURCE_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("commit", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("content", T.StringType()),
    ]
)


def stream_mentions(
    spark: SparkSession,
    ontology,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
):
    """Drain the streaming mention job. Returns the finished
    StreamingQuery."""
    from ..operators.mentions import prepare_instances

    src = spark.readStream.schema(SOURCE_SCHEMA).parquet(input_dir)
    inst = prepare_instances(src)
    mentions = detect_mentions(inst, ontology)
    writer = (
        mentions.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    return q
