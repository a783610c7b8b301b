"""End-to-end streaming ingest: quality gate -> exact dedup -> extraction.

The three streaming capabilities this package provides separately
(stateless quality filtering, watermark-bounded exact dedup, the fused
extraction kernel on a stream) compose into ONE StreamingQuery — the shape
a continuously-fed 10^12-file corpus actually runs:

    readStream (repo, path, commit, lang, content, ingest_ts)
      -> quality gate        stateless, whole-stage codegen (length, lang
                             allowlist, duplicate-token fraction via
                             array ops — no Python)
      -> exact dedup         dropDuplicatesWithinWatermark on the map-side
                             content sha: a re-sent document inside the
                             watermark horizon is dropped BEFORE extraction
                             spends anything on it; state is bounded by the
                             horizon and survives restarts in the checkpoint
      -> fused extraction    the batch kernel unchanged (map stage, model
                             broadcast — no code fork)
      -> parquet sink        exactly-once via the streaming checkpoint

Ordering matters at scale: the gate is the cheapest stage so it runs
first; dedup runs before extraction so duplicate content never reaches
the expensive kernel; extraction is stateless so it adds no state-store
pressure after the dedup stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..operators.fused import extract_fused
from ..operators.mentions import prepare_instances
from .mentions_stream import SOURCE_SCHEMA

INGEST_SCHEMA = T.StructType(
    list(SOURCE_SCHEMA.fields) + [T.StructField("ingest_ts", T.TimestampType())]
)


def stream_ingest(
    spark: SparkSession,
    ontology,
    weights_pdf,
    thresholds: dict,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    link_map_df: DataFrame | None = None,
    watermark: str = "1 hour",
    min_chars: int = 8,
    max_dup_token_frac: float = 0.9,
    langs: tuple | None = None,
):
    """Drain the source files in ``input_dir`` into exactly-once triples
    from quality-passing, first-seen-only documents in ``output_dir``.
    Returns the finished StreamingQuery."""
    src = spark.readStream.schema(INGEST_SCHEMA).parquet(input_dir)

    arr = F.expr("filter(split(content, ' '), x -> x <> '')")
    gated = src.filter(F.length("content") >= min_chars)
    if langs:
        gated = gated.filter(F.col("lang").isin(list(langs)))
    # duplicate-token fraction (queries.q_quality_repetition's headline
    # signal) computed array-side; size() = 0 makes the ratio NULL, which
    # the filter rejects — empty docs never pass
    gated = gated.filter(
        (F.lit(1.0) - F.size(F.array_distinct(arr)) / F.size(arr))
        <= max_dup_token_frac
    )

    deduped = (
        gated.withColumn("content_sha", F.sha2("content", 256))
        .withWatermark("ingest_ts", watermark)
        .dropDuplicatesWithinWatermark(["content_sha"])
        .drop("content_sha", "ingest_ts")
    )

    inst = prepare_instances(deduped)
    triples = extract_fused(
        inst, ontology, weights_pdf, thresholds,
        link_map_df=link_map_df, fuzzy_linking=link_map_df is not None,
    )
    writer = (
        triples.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    return q
