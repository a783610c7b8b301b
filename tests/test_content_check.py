"""The extract job's content invariant: one aggregation gives the corpus
digest and the sha256 mismatch count, and a mismatch refuses the commit."""

import glob
import hashlib
import os
import sys

import pytest
from pyspark.sql import functions as F

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
import spark_submit_job  # noqa: E402

from obiemachinelearningframework_spark.fixtures import generate_corpus  # noqa: E402


def _source(n_docs=30, seed=3):
    src = generate_corpus("soccer", n_docs=n_docs, seed=seed)["source"]
    return src.assign(sha256=[hashlib.sha256(c.encode()).hexdigest() for c in src.content])


def test_digest_is_the_recorded_formula_and_counts_mismatches(spark):
    pdf = _source()
    df = spark.createDataFrame(pdf)
    digest, bad = spark_submit_job.content_check(df)
    # the formula committed manifests carry: sum of the first 15 hex digits
    # of each row's sha256(content), as a decimal string
    assert digest == str(sum(int(h[:15], 16) for h in pdf.sha256))
    assert digest == (
        df.select(F.conv(F.substring(F.sha2("content", 256), 1, 15), 16, 10)
                  .cast("decimal(38,0)").alias("h"))
        .agg(F.sum("h").cast("string")).collect()[0][0]
    )
    assert bad == 0

    pdf.loc[4, "sha256"] = "0" * 64
    assert spark_submit_job.content_check(spark.createDataFrame(pdf)) == (digest, 1)
    assert spark_submit_job.content_check(df.drop("sha256")) == (digest, 0)


def test_extract_refuses_a_sha256_mismatch_and_commits_nothing(spark, tmp_path, monkeypatch):
    c = generate_corpus("soccer", n_docs=30, seed=3)
    pdf = _source()
    clean, bad, gold = (str(tmp_path / d) for d in ("clean", "bad", "gold"))
    spark.createDataFrame(pdf).write.parquet(clean)
    pdf.loc[7, "sha256"] = "f" * 64
    spark.createDataFrame(pdf).write.parquet(bad)
    spark.createDataFrame(c["gold_triples"]).write.parquet(gold)
    weights, ck = str(tmp_path / "weights.jsonl"), str(tmp_path / "ck")

    def run(*argv):
        monkeypatch.setattr(sys, "argv", ["spark_submit_job.py", *argv])
        spark_submit_job.main()

    run("train", "--source", clean, "--gold", gold, "--weights", weights)
    with pytest.raises(AssertionError, match="1 rows failed the content sha256 invariant"):
        run("extract", "--source", bad, "--weights", weights,
            "--output", str(tmp_path / "triples"), "--checkpoint-dir", ck)
    assert not glob.glob(f"{ck}/**/_MANIFEST.json", recursive=True)
