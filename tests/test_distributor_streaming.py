import os

from pyspark.sql import functions as F

from obiemachinelearningframework_spark.fixtures import generate_corpus
from obiemachinelearningframework_spark.operators.candidates import generate_candidates, propose_roots
from obiemachinelearningframework_spark.operators.distributor import (
    fold_split,
    shuffle_split,
    upper_bound_recall,
)
from obiemachinelearningframework_spark.operators.mentions import detect_mentions, prepare_instances


def test_shuffle_split_deterministic_and_proportional(spark):
    c = generate_corpus("soccer", n_docs=50, seed=42)
    inst = prepare_instances(spark.createDataFrame(c["source"]))
    s1 = shuffle_split(inst, 0.6, 0.2, seed=100).select("doc_key", "split").toPandas()
    s2 = shuffle_split(inst, 0.6, 0.2, seed=100).select("doc_key", "split").toPandas()
    assert s1.sort_values("doc_key").equals(s2.sort_values("doc_key"))
    counts = s1.split.value_counts()
    assert counts["train"] == 30 and counts["dev"] == 10 and counts["test"] == 10


def test_fold_split_covers_all(spark):
    c = generate_corpus("soccer", n_docs=50, seed=42)
    inst = prepare_instances(spark.createDataFrame(c["source"]))
    f = fold_split(inst, n_folds=5).select("fold").distinct().toPandas()
    assert set(f.fold) <= set(range(5))


def test_upper_bound_sandwich(spark):
    """UpperBound oracle must bound below by what the candidates can reach;
    on the soccer fixture nearly everything is reachable."""
    c = generate_corpus("soccer", n_docs=30, seed=42)
    inst = prepare_instances(spark.createDataFrame(c["source"]))
    mentions = detect_mentions(inst, c["ontology"])
    roots = propose_roots(mentions, c["ontology"])
    cands = generate_candidates(mentions, c["ontology"])
    gold = spark.createDataFrame(c["gold_triples"])
    ub = upper_bound_recall(gold, cands, roots)
    assert ub["upper_bound_recall"] >= 0.97, ub


def test_streaming_mentions_match_batch(spark, tmp_path):
    """Streamed mention detection over the file source must produce exactly
    the batch result once drained (availableNow)."""
    from obiemachinelearningframework_spark.streaming.mentions_stream import stream_mentions

    c = generate_corpus("soccer", n_docs=10, seed=42)
    src_dir = str(tmp_path / "src")
    out_dir = str(tmp_path / "out")
    ck_dir = str(tmp_path / "ck")
    spark.createDataFrame(c["source"]).write.parquet(src_dir)

    stream_mentions(spark, c["ontology"], src_dir, out_dir, ck_dir)
    streamed = spark.read.parquet(out_dir)

    inst = prepare_instances(spark.read.parquet(src_dir))
    batch = detect_mentions(inst, c["ontology"])
    key = ["doc_key", "kind", "type_id", "onset", "offset"]
    assert streamed.count() == batch.count()
    assert streamed.select(*key).exceptAll(batch.select(*key)).count() == 0
