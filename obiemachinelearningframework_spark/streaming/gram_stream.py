"""Streaming incremental Gram — continuous PCA maintenance.

The batch operator (operators/pca.gram_micro) folds a corpus at rest
into the d x d integer Gram matrix; at ingestion time the question is
"what does the embedding covariance look like SO FAR" (drift of the
encoder, dead dimensions appearing, when to re-fit the projection), and
the Gram answers it continuously because it is MERGEABLE exactly like
the CMS counters (cms_stream.py):

    gram(all data) == gram(batch 1) + gram(batch 2) + ...

bit-exactly — entries are integer-micro products (no float summation
order anywhere), so merging loses nothing and the streamed state equals
the at-rest Gram counter-for-counter. Each micro-batch's d(d+1)/2
partial rows fold into the persistent state in ``foreachBatch`` under
the A/B write-then-flip commit of sources/commit.py, with the epoch id
committed atomically with the flip (addition is not idempotent; a
replayed epoch is a no-op). State is O(d^2) regardless of stream
length; PCA of the running state is the same constant-cost driver eigen
step as the batch path (operators/pca.pca_from_gram) — re-fittable at
any moment without touching historical vectors.

To center the covariance without storing vectors the state also carries
the running per-dimension micro SUMS and the row COUNT (dimension-sized
and 1-sized — both exactly mergeable for free).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..operators.pca import MICRO, gram_micro
from ..sources import commit

VEC_SCHEMA = T.StructType([
    T.StructField("vec_id", T.LongType()),
    T.StructField("embedding", T.ArrayType(T.FloatType())),
    T.StructField("label", T.IntegerType()),
])

# state rows: gram entries (kind='g', i<=j), dimension sums (kind='s',
# j=0), row count (kind='n', i=j=0) — one table, one merge recipe
STATE_SCHEMA = T.StructType([
    T.StructField("kind", T.StringType()),
    T.StructField("i", T.IntegerType()),
    T.StructField("j", T.IntegerType()),
    T.StructField("v", T.DecimalType(38, 0)),
])


def batch_state(vecs: DataFrame) -> DataFrame:
    """One batch -> mergeable state rows: integer Gram + micro dim sums
    + row count (all decimal(38,0) so cross-batch sums cannot overflow)."""
    g = gram_micro(vecs).select(
        F.lit("g").alias("kind"), "i", "j", F.col("g").alias("v")
    )
    sums = (
        vecs.select(F.posexplode("embedding").alias("i", "val"))
        .select(
            "i",
            F.round(F.col("val").cast("double") * MICRO)
            .cast("long")
            .alias("m"),
        )
        .groupBy("i")
        .agg(F.sum(F.col("m").cast("decimal(38,0)")).alias("v"))
        .select(F.lit("s").alias("kind"), "i", F.lit(0).alias("j"), "v")
    )
    n = vecs.agg(F.count("*").cast("decimal(38,0)").alias("v")).select(
        F.lit("n").alias("kind"), F.lit(0).alias("i"), F.lit(0).alias("j"), "v"
    )
    return g.unionByName(sums).unionByName(n)


def read_state(spark: SparkSession, state_dir: str) -> DataFrame:
    path = commit.current(state_dir)
    if path is None:
        return spark.createDataFrame([], STATE_SCHEMA)
    return spark.read.parquet(path)


def running_pca(spark: SparkSession, state_dir: str, d: int, k: int):
    """PCA of the state as of the last commit: (components, eigenvalues,
    total variance, n rows). Constant-cost driver step over O(d^2) rows."""
    import numpy as np

    from ..operators.pca import gram_to_matrix, pca_from_gram

    rows = read_state(spark, state_dir).collect()
    g_rows = [{"i": r["i"], "j": r["j"], "g": r["v"]}
              for r in rows if r["kind"] == "g"]
    n = int(sum(int(r["v"]) for r in rows if r["kind"] == "n"))
    if n == 0:
        raise ValueError("empty Gram state — nothing streamed yet")
    sums = np.zeros(d)
    for r in rows:
        if r["kind"] == "s":
            sums[r["i"]] = float(int(r["v"])) / MICRO
    mean = sums / n
    gram = gram_to_matrix(g_rows, d)
    comps, evals, total = pca_from_gram(gram, n, mean, k)
    return comps, evals, total, n


def _merge_batch(
    spark: SparkSession, vecs: DataFrame, state_dir: str, epoch_id: int,
    run_id: str,
) -> None:
    # addition is not idempotent: the epoch id commits WITH the flip so
    # a crash-replayed batch is a no-op (sources/commit.guard_replay).
    # The guard only holds within one streaming checkpoint — a repointed
    # checkpoint restarts epochs at 0, so a run-identity mismatch is a
    # loud error, not a silent skip.
    if not commit.guard_replay(state_dir, epoch_id, run_id):
        return
    merged = (
        read_state(spark, state_dir)
        .unionByName(batch_state(vecs))
        .groupBy("kind", "i", "j")
        .agg(F.sum("v").cast("decimal(38,0)").alias("v"))
    )
    commit.flip(state_dir, lambda path: merged.write.mode("overwrite").parquet(path),
                epoch=epoch_id, run=run_id)


def stream_gram(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    checkpoint_dir: str,
):
    """Drain the vector files in ``input_dir`` into the running
    Gram/mean/count state under ``state_dir``. Returns the finished
    StreamingQuery."""
    state_dir = commit.local_dir(state_dir)
    src = spark.readStream.schema(VEC_SCHEMA).parquet(input_dir)
    # run identity resolves INSIDE foreachBatch (see commit.run_id)
    writer = (
        src.writeStream
        .foreachBatch(
            lambda b, bid: _merge_batch(
                spark, b, state_dir, bid, commit.run_id(checkpoint_dir)))
        .option("checkpointLocation", checkpoint_dir)
    )
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    return q
