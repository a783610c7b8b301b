"""Each correctness check of the benchmark passes on a real output of the
benchmarked job and fails on a corrupted copy of it.

    python -m pytest perfbench/tests -q -p no:cacheprovider

The real outputs come from the workloads' own set-up, whose dependency jobs
run in child processes, and one pass each in the tests' local Spark
session, at a few dozen documents.
"""

import json
import os
import shutil

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import checks
from perfbench.workloads import CrawlIncremental, ExtractFull, Train, run_job

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="module")
def spark():
    from obiemachinelearningframework_spark.session import get_spark

    return get_spark("perfbench_tests", master="local[2]", shuffle_partitions=2)


def _one_pass(spark, wl):
    wl.setup()
    out = wl.path("pass")
    os.makedirs(out)
    run_job(*wl.job(out))
    return out


@pytest.fixture(scope="module")
def extract(spark, tmp_path_factory):
    wl = ExtractFull(str(tmp_path_factory.mktemp("extract")), seed=3, docs=60)
    return wl, _one_pass(spark, wl)


@pytest.fixture(scope="module")
def crawl(spark, tmp_path_factory):
    wl = CrawlIncremental(str(tmp_path_factory.mktemp("crawl")), seed=3, docs=60)
    return wl, _one_pass(spark, wl)


@pytest.fixture(scope="module")
def train(spark, tmp_path_factory):
    wl = Train(str(tmp_path_factory.mktemp("train")), seed=3, train_docs=60, heldout_docs=30)
    return wl, _one_pass(spark, wl)


def _copy(out, tmp_path):
    dst = str(tmp_path / "copy")
    shutil.copytree(out, dst)
    return dst


def _sink_files(sink):
    return sorted(os.path.join(d, f) for d, _, fs in os.walk(sink)
                  for f in fs if f.endswith(".parquet"))


def test_real_outputs_pass(spark, extract, crawl, train):
    for wl, out in (extract, crawl, train):
        assert wl.check(spark, out) >= 0.95


def test_dropped_triple_fails(extract, tmp_path):
    wl, out = extract
    bad = _copy(out, tmp_path)
    f = _sink_files(os.path.join(bad, "sink"))[0]
    t = pq.read_table(f)
    pq.write_table(t.slice(1), f)
    with pytest.raises(checks.CheckFailed, match="counts disagree"):
        wl.check(None, bad)


def test_triple_under_other_partition_fails(extract, tmp_path):
    wl, out = extract
    bad = _copy(out, tmp_path)
    sink = os.path.join(bad, "sink")
    files = _sink_files(sink)
    src, dst = files[0], next(f for f in files if os.path.dirname(f) != os.path.dirname(files[0]))
    shutil.move(src, os.path.join(os.path.dirname(dst), "moved-" + os.path.basename(src)))
    with pytest.raises(checks.CheckFailed, match="wrong partition"):
        wl.check(None, bad)


def test_deleted_document_triple_kept_fails(crawl, tmp_path):
    wl, out = crawl
    bad = _copy(out, tmp_path)
    gone = sorted(wl.deleted_keys)[0]
    f = _sink_files(os.path.join(bad, "sink"))[0]
    df = pq.read_table(f).to_pandas()
    row = df.iloc[[0]].assign(doc_key=gone)
    pq.write_table(pa.Table.from_pandas(pd.concat([df, row]), preserve_index=False), f)
    sink = checks.read_sink(os.path.join(bad, "sink"))
    with pytest.raises(checks.CheckFailed, match="deleted documents kept"):
        checks.check_incremental(sink, checks.read_sink(os.path.join(out, "sink")),
                                 checks.read_metrics(os.path.join(out, "ck")),
                                 wl.planted, wl.deleted_keys)


def test_changed_count_off_by_one_fails(spark, crawl, tmp_path):
    wl, out = crawl
    bad = _copy(out, tmp_path)
    log = os.path.join(bad, "ck", "_metrics.jsonl")
    recs = [json.loads(line) for line in open(log)]
    recs[-1]["n_changed"] += 1
    with open(log, "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in recs)
    with pytest.raises(checks.CheckFailed, match="n_changed"):
        wl.check(spark, bad)


def test_zeroed_model_fails(spark, train, tmp_path):
    wl, out = train
    bad = _copy(out, tmp_path)
    path = os.path.join(bad, "weights.jsonl")
    w = pd.read_json(path, orient="records", lines=True)
    w.assign(weight=0.0).to_json(path, orient="records", lines=True)
    with pytest.raises(checks.CheckFailed, match="P="):
        wl.check(spark, bad)


def test_benchmark_json_names_the_reported_metrics():
    from perfbench.run import END_TO_END, PER_LAYER
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)
