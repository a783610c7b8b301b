"""Streaming near-duplicate annotation against a static reference corpus.

The batch operator (queries.q_dedup_incremental) dedups one new batch
against the at-rest corpus; at ingestion time documents arrive
continuously and must be checked against the corpus BEFORE they are
admitted. The reference side is computed ONCE (minhash signatures + LSH
band buckets of the at-rest corpus — in production a materialized
bucketed table, sources/bucketed.py) and each micro-batch joins
stream-static against it: the reference table IS the state, so no state
store grows with the stream at all.

Two scale properties worth naming:

* **The per-document signature is map-only.** The batch form aggregates
  exploded shingles (groupBy doc_id); here the whole minhash rides in ONE
  projection — tokens -> shingle array -> array_min(md5(seed:shingle))
  per permutation — so the streaming side adds ZERO exchanges before the
  candidate join. min over the shingle multiset equals min over the
  distinct set, so this is bit-identical to queries.q_minhash_signature
  (pinned by test).
* **Idempotent sink without a state store.** Each micro-batch writes its
  annotated rows into a batch_id=<epoch> partition with dynamic partition
  overwrite (foreachBatch): a replayed epoch overwrites its own partition
  instead of appending twice, which is the standard exactly-once recipe
  for foreachBatch parquet sinks (the streaming checkpoint already
  guarantees an epoch is not re-fed after commit; the overwrite guards
  the crash-mid-write window).

Hot buckets on the reference side are capped at index-build time
(deterministic md5-order sample, same rationale as queries.ANN sampling:
dropping them outright would blind the check exactly where the corpus is
densest).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..queries import INCR_EST_MIN, MAX_BUCKET_DOCS, N_MINHASH
from ..sources import commit
from .dedup_stream import DOC_SCHEMA

__all__ = [
    "doc_signatures",
    "build_reference_index",
    "annotate_batch",
    "stream_dedup_incremental",
]


def _shingle_array():
    """3-token shingles of ``text`` as one array expression (no explode)."""
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    n = F.size(toks)
    # NB: sequence(1, 0) is DESCENDING [1, 0] in Spark, not empty — short
    # documents need an explicit empty array.
    idx = F.when(n >= 3, F.sequence(F.lit(1), n - 2)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(
        idx,
        lambda i: F.concat_ws(
            " ",
            F.element_at(toks, i),
            F.element_at(toks, i + 1),
            F.element_at(toks, i + 2),
        ),
    )


def doc_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, h0..h{N-1}) minhash signatures, map-only: one projection,
    no exchange. Documents shorter than one shingle get NULL signatures
    (they cannot near-dup under 3-token shingling and are passed through
    as novel)."""
    sh = _shingle_array()

    # NB: a one-arg lambda is required — `lambda s, i=i: ...` would make
    # PySpark pass the ARRAY INDEX as the second argument, silently
    # replacing the permutation seed.
    def _perm(i: int):
        return lambda s: F.md5(F.concat(F.lit(f"{i}:"), s))

    cols = [
        F.array_min(F.transform(sh, _perm(i))).alias(f"h{i}")
        for i in range(N_MINHASH)
    ]
    return docs.select("doc_id", *cols)


def _bands(sigs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    band_structs = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat_ws("|", f"h{2 * b}", f"h{2 * b + 1}")).alias("bucket"),
        )
        for b in range(N_MINHASH // 2)
    ])
    return (
        sigs.filter(F.col("h0").isNotNull())
        .select(F.col("doc_id").alias(id_col), F.explode(band_structs).alias("bb"))
        .select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    )


def build_reference_index(ref_docs: DataFrame, index_dir: str) -> None:
    """Materialize the at-rest corpus' signatures and (capped) band
    buckets under ``index_dir`` — the write-once artifact every future
    ingest batch joins against. Hot buckets keep a deterministic
    md5-order sample of MAX_BUCKET_DOCS members."""
    sigs = doc_signatures(ref_docs)
    sigs.write.mode("overwrite").parquet(os.path.join(index_dir, "sigs"))
    bands = _bands(sigs, "ref_doc_id")
    w = W.partitionBy("band", "bucket").orderBy(
        F.md5(F.col("ref_doc_id").cast("string"))
    )
    (
        bands.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= MAX_BUCKET_DOCS)
        .drop("_rn")
        .write.mode("overwrite")
        .parquet(os.path.join(index_dir, "bands"))
    )


def annotate_batch(
    batch: DataFrame, ref_sigs: DataFrame, ref_bands: DataFrame
) -> DataFrame:
    """One micro-batch of documents -> the same documents plus
    (dup_of, est_jaccard): the best reference match with minhash
    agreement >= INCR_EST_MIN, or NULLs if the document is novel. Joins
    are keyed on the band bucket / doc ids; nothing is corpus-sized on a
    single node."""
    sigs = doc_signatures(batch)
    cand = (
        _bands(sigs).join(ref_bands, ["band", "bucket"])
        .select("doc_id", "ref_doc_id")
        .distinct()
    )
    agree = sum(
        F.when(F.col(f"n.h{i}") == F.col(f"o.h{i}"), 1).otherwise(0)
        for i in range(N_MINHASH)
    )
    scored = (
        cand.join(sigs.alias("n"), "doc_id")
        .join(ref_sigs.alias("o"), cand.ref_doc_id == F.col("o.doc_id"))
        .select(
            cand.doc_id,
            F.col("ref_doc_id").alias("dup_of"),
            F.round(agree / F.lit(float(N_MINHASH)), 6).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= INCR_EST_MIN)
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("est_jaccard"), F.asc("dup_of"))
    best = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return batch.join(best, "doc_id", "left")


def stream_dedup_incremental(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    output_dir: str,
    checkpoint_dir: str,
):
    """Drain the documents in ``input_dir`` into annotated documents
    (dup_of / est_jaccard vs the reference index) in ``output_dir``,
    partitioned by batch_id with dynamic-overwrite idempotency. Returns
    the finished StreamingQuery."""
    ref_sigs = spark.read.parquet(os.path.join(index_dir, "sigs"))
    ref_bands = spark.read.parquet(os.path.join(index_dir, "bands"))

    def _write(batch: DataFrame, epoch_id: int) -> None:
        commit.assert_sink_run_identity(output_dir, commit.run_id(checkpoint_dir))
        (
            annotate_batch(batch, ref_sigs, ref_bands)
            .withColumn("batch_id", F.lit(int(epoch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(output_dir)
        )

    src = spark.readStream.schema(DOC_SCHEMA).parquet(input_dir)
    writer = (
        src.writeStream.foreachBatch(_write)
        .option("checkpointLocation", checkpoint_dir)
    )
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    return q
