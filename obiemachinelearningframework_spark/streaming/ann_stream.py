"""Streaming similarity search: query vectors against a static IVF index.

The batch operator (operators/ivf.ivf_topk) answers top-k for a bounded
query set in one job; at serving time queries arrive continuously and
each micro-batch must probe the SAME at-rest index. The index is built
ONCE (operators/ivf.train_codebook + the r==1 centroid assignment of the
corpus, materialized as inverted lists partitioned by centroid id — in
production the bucketed-table sink, sources/bucketed.py) and every
micro-batch runs the identical probe plan stream-static: the index IS
the state, so no state store grows with the query stream — the exact
shape incremental_dedup_stream.py established for the LSH index.

Scale properties:

* **Assignment is map-only per batch.** The codebook is tiny and
  broadcast; ranking a query's nprobe centroids is a window over at most
  ANN index-K rows PER QUERY (batch-bounded), and the candidate join
  touches only the probed lists — never the corpus.
* **Whole-array cosine, no explode.** Both the centroid ranking and the
  exact re-score use the zip_with/aggregate kernel (_cos_expr), JVM-side.
* **Exactly-once sink.** Per-epoch dynamic partition overwrite
  (batch_id=<epoch>) — a replayed epoch overwrites its own partition,
  the same idempotency recipe as the other foreachBatch sinks here.

Parity: tests/test_ann_stream.py pins the streamed result row-for-row
against the batch ivf_topk answer for the same queries and index.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F
from pyspark.sql import types as T

from ..operators.ivf import _cos_expr, train_codebook
from ..sources import commit

__all__ = [
    "QUERY_SCHEMA",
    "VECTOR_SCHEMA",
    "build_ann_index",
    "load_lists",
    "annotate_queries",
    "stream_ann_topk",
    "stream_ann_index_update",
    "compact_ann_index",
]

QUERY_SCHEMA = T.StructType(
    [
        T.StructField("qid", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
    ]
)

VECTOR_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
    ]
)


def build_ann_index(
    emb: DataFrame, index_dir: str, k: int = 16, seed: int = 7
) -> None:
    """Materialize the serving index under ``index_dir``: the KMeans
    codebook (cid, cv) and the corpus inverted lists (cid, nid, nv) —
    each corpus vector filed under its nearest centroid. Write-once; the
    corpus-sized work is ONE assignment map + ONE partitioned write."""
    codebook = train_codebook(emb, k=k, seed=seed)
    codebook.write.mode("overwrite").parquet(os.path.join(index_dir, "codebook"))
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    ac = e.crossJoin(F.broadcast(codebook)).select(
        "vec_id", "v", "cid", _cos_expr("v", "cv").alias("cos_c")
    )
    w = W.partitionBy("vec_id").orderBy(F.desc(F.round("cos_c", 6)), F.asc("cid"))
    (
        ac.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select("cid", F.col("vec_id").alias("nid"), F.col("v").alias("nv"))
        .write.mode("overwrite")
        .partitionBy("cid")
        .parquet(os.path.join(index_dir, "lists"))
    )


def load_lists(spark: SparkSession, index_dir: str) -> DataFrame:
    """Current serving view of the inverted lists: the committed base
    (CURRENT-pointer side after a compaction, else the original build)
    unioned with any streamed delta, deduplicated on the vector id. The
    nid-dedup makes every read path idempotent under the one crash window
    compaction has (flip committed, delta not yet cleared): a vector
    present in both base and delta resolves to one identical row."""
    index_dir = commit.local_path(index_dir)
    base = commit.current(index_dir) or os.path.join(index_dir, "lists")
    base = spark.read.parquet(base).select("cid", "nid", "nv")
    delta_dir = os.path.join(index_dir, "lists_delta")
    if os.path.isdir(delta_dir) and any(
        not e.startswith((".", "_")) for e in os.listdir(delta_dir)
    ):
        delta = spark.read.parquet(delta_dir).select("cid", "nid", "nv")
        base = base.unionByName(delta)
    return base.dropDuplicates(["nid"])


def stream_ann_index_update(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    checkpoint_dir: str,
):
    """Index MAINTENANCE: new corpus vectors landing in ``input_dir`` are
    assigned to their nearest centroid (broadcast codebook — the codebook
    stays fixed between retrains, exactly like a production IVF index)
    and appended to a delta area partitioned by batch_id with
    dynamic-overwrite idempotency; load_lists() serves base + delta, and
    compact_ann_index() folds the delta into the base. Per batch the only
    work is one broadcast assignment map + one batch-sized write —
    nothing rescans the at-rest index."""
    codebook = spark.read.parquet(os.path.join(index_dir, "codebook"))
    delta_dir = os.path.join(index_dir, "lists_delta")

    def _write(batch: DataFrame, epoch_id: int) -> None:
        commit.assert_sink_run_identity(delta_dir, commit.run_id(checkpoint_dir))
        e = batch.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
        ac = e.crossJoin(F.broadcast(codebook)).select(
            "vec_id", "v", "cid", _cos_expr("v", "cv").alias("cos_c")
        )
        w = W.partitionBy("vec_id").orderBy(
            F.desc(F.round("cos_c", 6)), F.asc("cid")
        )
        (
            ac.withColumn("r", F.row_number().over(w))
            .filter(F.col("r") == 1)
            .select("cid", F.col("vec_id").alias("nid"), F.col("v").alias("nv"))
            .withColumn("batch_id", F.lit(int(epoch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(delta_dir)
        )

    src = spark.readStream.schema(VECTOR_SCHEMA).parquet(input_dir)
    writer = (
        src.writeStream.foreachBatch(_write)
        .option("checkpointLocation", checkpoint_dir)
    )
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    return q


def compact_ann_index(spark: SparkSession, index_dir: str) -> None:
    """Fold the streamed delta into the base lists: write the merged
    lists to the non-current side (``lists_a``, ``lists_b``; the original
    build is ``lists``), then flip the pointer — the write-then-flip
    commit of sources/commit.py, so a crash before the flip leaves the
    previous base intact — then clear the delta. A crash AFTER the flip
    but BEFORE the clear is harmless: load_lists() dedups on nid, so
    leftover delta rows are no-ops."""
    import shutil

    index_dir = commit.local_path(index_dir)
    merged = load_lists(spark, index_dir).localCheckpoint()
    commit.flip(
        index_dir,
        lambda path: merged.write.mode("overwrite").partitionBy("cid").parquet(path),
        sides=("lists_a", "lists_b"),
    )
    delta_dir = os.path.join(index_dir, "lists_delta")
    if os.path.isdir(delta_dir):
        shutil.rmtree(delta_dir)


def annotate_queries(
    batch: DataFrame,
    codebook: DataFrame,
    lists: DataFrame,
    k: int = 3,
    nprobe: int = 2,
) -> DataFrame:
    """One micro-batch of queries (qid, embedding) -> (qid, nid, rank,
    cos): exact-cosine top-k among the candidates filed under each
    query's ``nprobe`` nearest centroids. Identical admission and
    tie-break to operators/ivf.ivf_topk (round-6 cosine DESC, id ASC)."""
    q = batch.select("qid", F.col("embedding").cast("array<double>").alias("qv"))
    ac = q.crossJoin(F.broadcast(codebook)).select(
        "qid", "qv", "cid", _cos_expr("qv", "cv").alias("cos_c")
    )
    w_assign = W.partitionBy("qid").orderBy(F.desc(F.round("cos_c", 6)), F.asc("cid"))
    probes = (
        ac.withColumn("r", F.row_number().over(w_assign))
        .filter(F.col("r") <= nprobe)
        .select("qid", "qv", "cid")
    )
    cand = probes.join(lists, "cid").filter(F.col("qid") != F.col("nid"))
    scored = cand.select(
        "qid", "nid", _cos_expr("qv", "nv").alias("cos")
    ).dropDuplicates(["qid", "nid"])
    w = W.partitionBy("qid").orderBy(F.desc(F.round("cos", 6)), F.asc("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", "rank", F.round("cos", 4).alias("cos"))
    )


def stream_ann_topk(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    k: int = 3,
    nprobe: int = 2,
):
    """Drain the query vectors in ``input_dir`` into their top-k
    neighbors vs the static index in ``output_dir``, partitioned by
    batch_id with dynamic-overwrite idempotency. Returns the finished
    StreamingQuery."""
    codebook = spark.read.parquet(os.path.join(index_dir, "codebook"))
    lists = load_lists(spark, index_dir)

    def _write(batch: DataFrame, epoch_id: int) -> None:
        commit.assert_sink_run_identity(output_dir, commit.run_id(checkpoint_dir))
        (
            annotate_queries(batch, codebook, lists, k=k, nprobe=nprobe)
            .withColumn("batch_id", F.lit(int(epoch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(output_dir)
        )

    src = spark.readStream.schema(QUERY_SCHEMA).parquet(input_dir)
    writer = (
        src.writeStream.foreachBatch(_write)
        .option("checkpointLocation", checkpoint_dir)
    )
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    return q
