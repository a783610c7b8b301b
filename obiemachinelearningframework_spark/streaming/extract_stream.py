"""Streaming triple extraction — the fused kernel on a continuous corpus.

The reference is batch-only; at 10^12-file scale the source table grows
continuously, so the WHOLE extraction (mentions -> candidates -> features
-> score -> fill -> triples, ``operators/fused.py``) also runs as a
Structured Streaming job: the fused kernel is a pure map stage with the
model broadcast, so it drops onto ``readStream`` unchanged — no code fork
between the batch and streaming paths, and exactly-once output via the
streaming checkpoint (a re-drain appends nothing).

The only batch-side dependency is the fuzzy-link map, which in the batch
plan is derived from the corpus vocabulary (a batch action, illegal on a
stream). Streaming jobs therefore take a PRECOMPUTED link map (built from
the training corpus / dictionary by ``operators/linking.build_link_map``)
or run with fuzzy linking off; new-vocabulary surfaces then link on the
next map refresh — the standard freshness/cost trade of a broadcast side
input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.fused import extract_fused
from ..operators.mentions import prepare_instances
from .mentions_stream import SOURCE_SCHEMA


def stream_extract(
    spark: SparkSession,
    ontology,
    weights_pdf,
    thresholds: dict,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    link_map_df: DataFrame | None = None,
):
    """Drain the source files in ``input_dir`` into exactly-once triples
    in ``output_dir``. Returns the finished StreamingQuery."""
    src = spark.readStream.schema(SOURCE_SCHEMA).parquet(input_dir)
    inst = prepare_instances(src)
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
