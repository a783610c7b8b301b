"""The one commit protocol (sources/commit.py): non-local URIs are
refused instead of failing open, and every commit user survives a crash
between writing its data and publishing it."""

import datetime
import os

import pytest
from pyspark.sql import functions as F

from obiemachinelearningframework_spark.sources import commit
from obiemachinelearningframework_spark.sources.catalog import Checkpointer
from obiemachinelearningframework_spark.streaming import cms_stream, gram_stream, kg_stream
from obiemachinelearningframework_spark.streaming.ann_stream import compact_ann_index, load_lists
from obiemachinelearningframework_spark.streaming.dedup_stream import DOC_SCHEMA


def test_non_local_uris_are_refused(tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    with pytest.raises(ValueError, match="hdfs://nn/ck"):
        Checkpointer(None, "hdfs://nn/ck")
    with pytest.raises(ValueError, match="s3a://b/out"):
        commit.assert_sink_run_identity("s3a://b/out", "r")
    with pytest.raises(ValueError, match="abfs://"):
        commit.read_pointer("abfs://c@a/state")
    assert os.listdir(tmp_path) == []


def test_file_uris_are_local_paths(tmp_path):
    ck = Checkpointer(None, f"file://{tmp_path}/ck")
    assert ck.base == f"{tmp_path}/ck" and os.path.isdir(ck.base)
    commit.assert_sink_run_identity(f"file://{tmp_path}/out", "r")
    assert (tmp_path / "out" / commit.RUN_MARKER).read_text() == "r"


# ------------------------------------------------ crash before the commit point

T0 = datetime.datetime(2026, 1, 1)


def _rows(df):
    return sorted(tuple(tuple(v) if isinstance(v, list) else v for v in r) for r in df.collect())


class _Kg:
    BATCHES = ([("a", "p", "1", "add"), ("b", "p", "2", "add")],
               [("a", "p", "1", "retract"), ("c", "q", "3", "add")])

    def stage(self, spark, d, step):
        pass

    def commit(self, spark, d, step):
        batch = spark.createDataFrame(self.BATCHES[step], kg_stream.TRIPLE_OP_SCHEMA)
        kg_stream._merge_batch(spark, batch, d)

    def read(self, spark, d):
        return _rows(kg_stream.read_snapshot(spark, d)), commit.read_pointer(d)


class _Cms(_Kg):
    BATCHES = ([(1, "join hash join", "en", "web", T0)],
               [(2, "hash scan vector", "en", "web", T0)])

    def commit(self, spark, d, step):
        docs = spark.createDataFrame(self.BATCHES[step], DOC_SCHEMA)
        cms_stream._merge_batch(spark, docs, d, epoch_id=step, run_id="run")

    def read(self, spark, d):
        return _rows(cms_stream.read_sketch(spark, d)), commit.read_pointer(d)


class _Gram(_Kg):
    BATCHES = ([(0, [0.5, -1.0, 0.25], 0), (1, [1.0, 0.0, -0.5], 1)],
               [(2, [-0.75, 0.5, 1.0], 0)])

    def commit(self, spark, d, step):
        vecs = spark.createDataFrame(self.BATCHES[step], gram_stream.VEC_SCHEMA)
        gram_stream._merge_batch(spark, vecs, d, epoch_id=step, run_id="run")

    def read(self, spark, d):
        return _rows(gram_stream.read_state(spark, d)), commit.read_pointer(d)


class _AnnCompaction(_Kg):
    """Streamed delta rows are the compaction's input, not its commit."""

    def stage(self, spark, d, step):
        if step == 0:
            base = [(i % 2, i, [float(i), 1.0]) for i in range(4)]
            spark.createDataFrame(base, "cid int, nid long, nv array<double>").write.mode(
                "overwrite").partitionBy("cid").parquet(os.path.join(d, "lists"))
        delta = [(i % 2, i, [float(i), -1.0]) for i in range(4 + 2 * step, 6 + 2 * step)]
        spark.createDataFrame(delta, "cid int, nid long, nv array<double>").write.mode(
            "overwrite").parquet(os.path.join(d, "lists_delta", f"batch_id={step}"))

    def commit(self, spark, d, step):
        compact_ann_index(spark, d)

    def read(self, spark, d):
        base = spark.read.parquet(commit.current(d) or os.path.join(d, "lists"))
        return _rows(load_lists(spark, d)), _rows(base), commit.read_pointer(d)


class _Checkpointer(_Kg):
    def commit(self, spark, d, step):
        df = spark.range(3 * step, 3 * step + 3).withColumn("sq", F.col("id") * F.col("id"))
        Checkpointer(spark, d).write(f"s{step}", df, meta={"step": step})

    def read(self, spark, d):
        ck = Checkpointer(spark, d)
        return {s: (ck.manifest(s), _rows(ck.read(s))) for s in ("s0", "s1") if ck.exists(s)}


@pytest.mark.parametrize(
    "case", [_Kg(), _Cms(), _Gram(), _AnnCompaction(), _Checkpointer()],
    ids=["kg", "cms", "gram", "ann_compaction", "checkpointer"],
)
def test_crash_before_the_commit_point_keeps_the_previous_commit(
        spark, tmp_path, monkeypatch, case):
    crashed, clean = str(tmp_path / "crashed"), str(tmp_path / "clean")
    for d in (crashed, clean):
        os.makedirs(d)
    for step in (0, 1):
        case.stage(spark, clean, step)
        case.commit(spark, clean, step)

    case.stage(spark, crashed, 0)
    case.commit(spark, crashed, 0)
    case.stage(spark, crashed, 1)
    before = case.read(spark, crashed)

    replace = os.replace

    def crash_on_publish(src, dst):
        if os.path.basename(dst) in (commit.POINTER, "_MANIFEST.json"):
            raise OSError("injected crash before the commit point")
        replace(src, dst)

    monkeypatch.setattr(os, "replace", crash_on_publish)
    with pytest.raises(OSError, match="injected crash"):
        case.commit(spark, crashed, 1)
    monkeypatch.undo()
    assert case.read(spark, crashed) == before

    case.commit(spark, crashed, 1)  # the replay
    assert case.read(spark, crashed) == case.read(spark, clean)
