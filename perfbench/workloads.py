"""The benchmark's workloads.

Each workload makes its inputs from the seed, runs the jobs it depends on
during set-up (each in a child process with its own JVM, ``submit_job``, so
the benchmarked session is fresh at its cold pass), names the
``spark_submit_job.py`` command line of one pass,
checks the last pass's outputs, and, in a traced run, calls each layer's
public functions once on its own inputs (``kernel_layers``,
``chain_layers``).
"""

from __future__ import annotations

import contextlib
import os
import shlex
import shutil
import subprocess
import sys
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from . import checks

HERE = os.path.dirname(os.path.abspath(__file__))
SOURCE_COLS = ["repo", "path", "commit", "lang", "content"]
# parquet files of each extraction table
FILES = 16
# code documents the extract workloads' model is trained on in set-up
MODEL_DOCS = 60
# shares of the previous snapshot that crawl_incremental adds, changes, deletes
ADDED, CHANGED, DELETED = 0.03, 0.04, 0.01
SUBMIT_TIMEOUT_S = 600
STOP_TIMEOUT_S = 60
# documents timed one by one in this process for mentions.doc_us / fused.doc_us
DOC_SAMPLE = 200
# the job's layers whose calls sum to one pass (see unattributed_s)
KERNEL_JOB_LAYERS = ("fused.vocab_scan", "fused.link_map", "fused.map_stage",
                     "triples.sink", "catalog.commit")
CHAIN_JOB_LAYERS = ("mentions.detect", "linking.link", "candidates", "features.pairs",
                    "features.compute", "trainer.label", "trainer.solve")


def run_job(*argv: str) -> None:
    """One run of the production entry point in this process's session;
    the job's own prints go to stderr."""
    import spark_submit_job

    sys.argv = ["spark_submit_job.py", *argv]
    with contextlib.redirect_stdout(sys.stderr):
        spark_submit_job.main()


def submit_job(*argv: str) -> None:
    """One run of the production entry point in a child process with its
    own JVM, submitted at ``local[<cpus>]`` as ``spark-submit`` would; it
    returns once the child and its JVM have exited (``perfbench/submit.py``)."""
    from obiemachinelearningframework_spark.session import driver_memory

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    args = [f"--master local[{cpus}]", f"--driver-memory {driver_memory()}",
            f"--conf spark.sql.shuffle.partitions={cpus}",
            "--conf spark.ui.showConsoleProgress=false"]
    if opts := os.environ.get("OBIE_DRIVER_JAVA_OPTS"):
        args.append(f"--driver-java-options {shlex.quote(opts)}")
    env = dict(os.environ, PYSPARK_SUBMIT_ARGS=" ".join(args + ["pyspark-shell"]))
    subprocess.run([sys.executable, os.path.join(HERE, "submit.py"), *argv], env=env,
                   stdout=sys.stderr, check=True, timeout=SUBMIT_TIMEOUT_S)


def stop_spark(spark) -> None:
    """Stop the session, end its JVM, and wait until every process this
    process started has exited."""
    from perfbench.trace import descendants

    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(STOP_TIMEOUT_S)
    deadline = time.monotonic() + STOP_TIMEOUT_S
    while descendants():
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes still running: {descendants()}")
        time.sleep(0.1)


def corpus(domain: str, n_docs: int, seed: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(source with doc_key, gold triples) from the fixture generator."""
    from obiemachinelearningframework_spark.fixtures import generate_corpus

    c = generate_corpus(domain, n_docs=n_docs, seed=seed)
    return c["source"].assign(doc_key=c["source_sha"].doc_key.to_numpy()), c["gold_triples"]


def write_table(pdf: pd.DataFrame, path: str, n_files: int = 1) -> None:
    """``pdf`` as ``n_files`` parquet files of consecutive rows."""
    os.makedirs(path)
    for i, rows in enumerate(np.array_split(np.arange(len(pdf)), n_files)):
        table = pa.Table.from_pandas(pdf.iloc[rows], preserve_index=False)
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"))


def disk_mb(*paths: str) -> float:
    """Bytes of every regular file under ``paths``, in MB."""
    n = 0
    for p in paths:
        if os.path.isfile(p):
            n += os.path.getsize(p)
        for dirpath, _, files in os.walk(p):
            n += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return n / 1e6


def gold_of(gold: pd.DataFrame, keys) -> pd.DataFrame:
    return gold[gold.doc_key.isin(set(keys))]


class Workload:
    name = ""
    domain = ""
    job_layers: tuple = ()

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def pipeline(self, spark):
        from obiemachinelearningframework_spark.plans.pipeline import OBIEPipeline
        import spark_submit_job

        return OBIEPipeline(spark, spark_submit_job._ontology(self.domain))

    def train_model(self, source: pd.DataFrame, gold: pd.DataFrame) -> None:
        """The ``train`` job on ``source`` in its own process, writing the
        model the extract jobs load."""
        write_table(source[SOURCE_COLS], self.path("train_src"))
        write_table(gold_of(gold, source.doc_key), self.path("train_gold"))
        submit_job(*self.train_args(self.path("weights.jsonl")))

    def train_args(self, weights: str) -> list[str]:
        return ["train", "--domain", self.domain, "--source", self.path("train_src"),
                "--gold", self.path("train_gold"), "--weights", weights]

    def extract_args(self, source: str, out: str, checkpoint: bool = True) -> list[str]:
        args = ["extract", "--domain", self.domain, "--source", source,
                "--weights", self.path("weights.jsonl"), "--output", os.path.join(out, "sink")]
        return args + (["--checkpoint-dir", os.path.join(out, "ck")] if checkpoint else [])

    def written_mb(self, out: str) -> float:
        return disk_mb(os.path.join(out, "sink"), os.path.join(out, "ck"))


class ExtractFull(Workload):
    """``extract`` with ``--checkpoint-dir`` over a code-domain repository
    table; set-up trains the model on a separate code sample."""

    name, domain = "extract_full", "code"
    job_layers = KERNEL_JOB_LAYERS

    def __init__(self, work, seed, docs=2000):
        super().__init__(work, seed)
        self.docs = docs

    def setup(self) -> None:
        src, self.gold = corpus(self.domain, MODEL_DOCS + self.docs, self.seed)
        self.source = src.iloc[MODEL_DOCS:]
        write_table(self.source[SOURCE_COLS], self.path("src"), FILES)
        self.train_model(src.iloc[:MODEL_DOCS], self.gold)

    def job(self, out: str) -> list[str]:
        return self.extract_args(self.path("src"), out)

    def check(self, spark, out: str) -> float:
        sink = checks.read_sink(os.path.join(out, "sink"))
        checks.check_layout(sink, self.source)
        checks.check_commit(sink, os.path.join(out, "ck"))
        return checks.check_quality(sink, gold_of(self.gold, self.source.doc_key))

    def trace_layers(self, spark, tr, out: str) -> dict:
        pipe = self.pipeline(spark).load_weights(self.path("weights.jsonl"))
        inst = pipe.prepare(spark.read.parquet(self.path("src")))
        m = kernel_layers(tr, spark, pipe, inst, self.path("layers"))
        return m | chain_layers(tr, spark, pipe, self.path("train_src"), self.path("train_gold"))


class CrawlIncremental(Workload):
    """``incremental`` with ``--checkpoint-dir`` from one snapshot of the
    code-domain table to the next, in which a known share of documents was
    added, changed or deleted; set-up trains the model and extracts the
    previous snapshot."""

    name, domain = "crawl_incremental", "code"
    job_layers = KERNEL_JOB_LAYERS

    def __init__(self, work, seed, docs=2000):
        super().__init__(work, seed)
        self.docs = docs
        self.n_added, self.n_changed, self.n_deleted = (
            round(share * docs) for share in (ADDED, CHANGED, DELETED))

    def setup(self) -> None:
        n_pool = self.n_added + self.n_changed
        src, gold = corpus(self.domain, MODEL_DOCS + self.docs + n_pool, self.seed)
        train, prev = src.iloc[:MODEL_DOCS], src.iloc[MODEL_DOCS:][: self.docs]
        pool = src.iloc[MODEL_DOCS + self.docs:]
        added, donors = pool.iloc[: self.n_added], pool.iloc[self.n_added:]
        # deleted and changed documents are disjoint draws from the previous
        # snapshot; a changed document keeps its key and takes the content
        # (and so the gold) of a document the previous snapshot never had
        pick = np.random.RandomState(self.seed).permutation(len(prev))
        deleted = prev.iloc[np.sort(pick[: self.n_deleted])]
        changed_keys = prev.doc_key.iloc[np.sort(pick[self.n_deleted:][: self.n_changed])]
        new = prev[~prev.doc_key.isin(set(deleted.doc_key))].copy()
        swap = dict(zip(changed_keys, donors.content))
        is_changed = new.doc_key.isin(swap)
        new.loc[is_changed, "content"] = new.doc_key[is_changed].map(swap)
        new = pd.concat([new, added], ignore_index=True)
        rekey = dict(zip(donors.doc_key, changed_keys))
        donor_gold = gold_of(gold, donors.doc_key).assign(
            doc_key=lambda g: g.doc_key.map(rekey))
        self.gold = pd.concat([gold_of(gold, set(new.doc_key) - set(changed_keys)), donor_gold])
        self.source, self.deleted_keys = new, set(deleted.doc_key)
        self.delta_keys = list(changed_keys) + list(added.doc_key)
        self.planted = {"n_changed": self.n_changed + self.n_added,
                        "n_unchanged": len(prev) - self.n_deleted - self.n_changed,
                        "n_deleted": self.n_deleted}
        write_table(prev[SOURCE_COLS], self.path("prev_src"), FILES)
        write_table(new[SOURCE_COLS], self.path("src"), FILES)
        self.train_model(train, gold)
        submit_job(*self.extract_args(self.path("prev_src"), self.path("prev"),
                                      checkpoint=False))

    def job(self, out: str) -> list[str]:
        return ["incremental", "--domain", self.domain, "--source", self.path("src"),
                "--weights", self.path("weights.jsonl"),
                "--prev-source", self.path("prev_src"),
                "--prev-triples", self.path("prev", "sink"),
                "--output", os.path.join(out, "sink"),
                "--checkpoint-dir", os.path.join(out, "ck")]

    def check(self, spark, out: str) -> float:
        full = self.path("full")
        shutil.rmtree(full, ignore_errors=True)
        run_job(*self.extract_args(self.path("src"), full, checkpoint=False))
        sink = checks.read_sink(os.path.join(out, "sink"))
        checks.check_incremental(
            sink, checks.read_sink(os.path.join(full, "sink")),
            checks.read_metrics(os.path.join(out, "ck")), self.planted, self.deleted_keys)
        checks.check_layout(sink, self.source)
        checks.check_commit(sink, os.path.join(out, "ck"))
        return checks.check_quality(sink, self.gold)

    def trace_layers(self, spark, tr, out: str) -> dict:
        from pyspark.sql import functions as F

        pipe = self.pipeline(spark).load_weights(self.path("weights.jsonl"))
        inst = pipe.prepare(spark.read.parquet(self.path("src")))
        delta = inst.filter(F.col("doc_key").isin(self.delta_keys))
        m = kernel_layers(tr, spark, pipe, delta, self.path("layers"))
        return m | chain_layers(tr, spark, pipe, self.path("train_src"), self.path("train_gold"))


class Train(Workload):
    """``train`` on a labeled soccer-domain sample; the check applies the
    last pass's weights to held-out documents of the same corpus."""

    name, domain = "train", "soccer"
    job_layers = CHAIN_JOB_LAYERS

    def __init__(self, work, seed, train_docs=120, heldout_docs=60):
        super().__init__(work, seed)
        self.train_docs, self.heldout_docs = train_docs, heldout_docs

    def setup(self) -> None:
        src, self.gold = corpus(self.domain, self.train_docs + self.heldout_docs, self.seed)
        self.heldout = src.iloc[self.train_docs:]
        write_table(src.iloc[: self.train_docs][SOURCE_COLS], self.path("train_src"))
        write_table(gold_of(self.gold, src.doc_key.iloc[: self.train_docs]),
                    self.path("train_gold"))
        write_table(self.heldout[SOURCE_COLS], self.path("heldout_src"))

    def job(self, out: str) -> list[str]:
        return self.train_args(os.path.join(out, "weights.jsonl"))

    def written_mb(self, out: str) -> float:
        return disk_mb(os.path.join(out, "weights.jsonl"))

    def check(self, spark, out: str) -> float:
        pipe = self.pipeline(spark).load_weights(os.path.join(out, "weights.jsonl"))
        inst = pipe.prepare(spark.read.parquet(self.path("heldout_src")))
        pred = pipe.predict_fused(inst).toPandas()
        return checks.check_quality(pred, gold_of(self.gold, self.heldout.doc_key))

    def trace_layers(self, spark, tr, out: str) -> dict:
        pipe = self.pipeline(spark).load_weights(os.path.join(out, "weights.jsonl"))
        m = chain_layers(tr, spark, pipe, self.path("train_src"), self.path("train_gold"))
        inst = pipe.prepare(spark.read.parquet(self.path("heldout_src")))
        return m | kernel_layers(tr, spark, pipe, inst, self.path("layers"))


WORKLOADS = {w.name: w for w in (ExtractFull, CrawlIncremental, Train)}


def kernel_layers(tr, spark, pipe, inst, work: str) -> dict:
    """The fused extraction path, one public call per layer: vocabulary
    scan, driver link map, the two per-document kernels on a fixed sample,
    the map stage alone (link map supplied), the sink, and the commit."""
    from obiemachinelearningframework_spark.functions.patterns import compile_pattern_table
    from obiemachinelearningframework_spark.operators import fused as Fz
    from obiemachinelearningframework_spark.operators.mentions import (
        compile_patterns,
        dictionary_token_set,
        linkable_span_band,
        match_document,
    )
    from obiemachinelearningframework_spark.operators.trainer import (
        HASHED_DIM_FEATURE,
        THRESHOLD_PREFIX,
        hashed_dim,
    )
    from obiemachinelearningframework_spark.operators.triples import write_triples
    from obiemachinelearningframework_spark.sources.catalog import Checkpointer

    onto, min_len = pipe.ontology, pipe.min_ner_length
    with tr.span("fused.vocab_scan"):
        head = Fz.unknown_vocabulary_df(inst, onto).take(Fz.LINK_MAP_DRIVER_MAX + 1)
    with tr.span("fused.link_map"):
        link_map = Fz.py_link_map([r["text"] for r in head], onto)

    sample = inst.select("doc_key", "content").orderBy("doc_key").limit(DOC_SAMPLE).collect()
    compiled = compile_patterns(compile_pattern_table(onto))
    dict_toks, band = dictionary_token_set(onto), linkable_span_band(onto)
    # the kernel's model: mirrors extract_fused's weights preparation
    # (operators/fused.py, after the link map), which has no entry point
    w = pipe.weights[~pipe.weights.feature.str.startswith(THRESHOLD_PREFIX)
                     & (pipe.weights.feature != HASHED_DIM_FEATURE)]
    weights = dict(zip(w.feature, w.weight.astype(float)))
    if dim := hashed_dim(pipe.weights):
        weights = Fz.HashedWeights(weights, dim)
    spec = Fz.ontology_spec(onto)
    with tr.span("mentions.doc"):
        for r in sample:
            match_document(r["content"], compiled, min_len, True, dict_toks, band)
    with tr.span("fused.doc"):
        for r in sample:
            Fz.extract_document(r["doc_key"], r["content"], compiled, link_map, spec,
                                weights, pipe.thresholds, min_len)

    rows = [(tok, tid, cid, rank) for tok, alts in sorted(link_map.items())
            for rank, (tid, cid) in enumerate(alts, 1)]
    link_df = spark.createDataFrame(
        rows, schema="token string, type_id string, class_id string, rank int")
    with tr.span("fused.map_stage"):
        triples = Fz.extract_fused(inst, onto, pipe.weights, pipe.thresholds,
                                   min_ner_length=min_len, link_map_df=link_df,
                                   carry_cols=("repo", "lang")).cache()
        n_triples = triples.count()
    sink, ck = os.path.join(work, "sink"), os.path.join(work, "ck")
    with tr.span("triples.sink"):
        write_triples(triples, sink)
    triples.unpersist()
    with tr.span("catalog.commit"):
        Checkpointer(spark, ck).write("triples", spark.read.parquet(sink), meta={"mode": "extract"})
    n_files = sum(f.endswith(".parquet") for _, _, fs in os.walk(sink) for f in fs)
    us = 1e6 / max(len(sample), 1)
    return {
        "fused.vocab_surfaces": len(head), "fused.link_map_entries": len(link_map),
        "mentions.doc_us": tr.seconds("mentions.doc") * us,
        "fused.doc_us": tr.seconds("fused.doc") * us,
        "fused.triples": n_triples, "triples.sink_mb": disk_mb(sink),
        "triples.sink_files": n_files, "catalog.commit_mb": disk_mb(ck),
    }


def chain_layers(tr, spark, pipe, source: str, gold: str) -> dict:
    """The relational training chain ``OBIEPipeline.fit`` runs, one public
    call per layer, each materialized so its Spark jobs run inside its
    span."""
    from pyspark.sql import functions as F

    from obiemachinelearningframework_spark.operators.features import (
        build_pairs,
        compute_features,
    )
    from obiemachinelearningframework_spark.operators.linking import (
        apply_link_map,
        link_map_auto,
    )
    from obiemachinelearningframework_spark.operators.mentions import (
        UNKNOWN_KIND,
        detect_mentions,
    )
    from obiemachinelearningframework_spark.operators.trainer import label_pairs, train_weights

    onto, n = pipe.ontology, int(spark.conf.get("spark.sql.shuffle.partitions"))
    inst = pipe.prepare(spark.read.parquet(source))
    m = {}
    # detect, link and merge mirror OBIEPipeline._mentions_with_caches
    # (plans/pipeline.py), whose steps have no entry points of their own
    with tr.span("mentions.detect"):
        raw = detect_mentions(inst, onto, pipe.min_ner_length, emit_unknown=True).cache()
        m["mentions.rows"] = raw.count()
    unknown = raw.filter(F.col("kind") == UNKNOWN_KIND).select(
        "doc_key", "text", "onset", "offset", "sent_idx")
    with tr.span("linking.link"):
        linked = apply_link_map(unknown, link_map_auto(unknown, onto, spark)).cache()
        m["linking.linked_rows"] = linked.count()
    with tr.span("mentions.merge"):
        mentions = (raw.filter(F.col("kind") != UNKNOWN_KIND).unionByName(linked)
                    .repartition(n, "doc_key")
                    .dropDuplicates(["doc_key", "kind", "type_id", "onset", "offset"]).cache())
        mentions.count()
    with tr.span("candidates"):
        roots, cands = (df.cache() for df in pipe.roots_and_candidates(mentions))
        m["candidates.roots"], m["candidates.rows"] = roots.count(), cands.count()
    with tr.span("features.pairs"):
        pairs = build_pairs(roots, cands, inst).cache()
        m["features.pairs"] = pairs.count()
    with tr.span("features.compute"):
        feats = compute_features(pairs, onto).cache()
        m["features.rows"] = feats.count()
    labels = label_pairs(pairs, spark.read.parquet(gold))
    with tr.span("trainer.label"):
        labels_pdf = labels.toPandas()
    with tr.span("trainer.solve"):
        m["trainer.weights"] = len(train_weights(feats, labels, labels_pdf=labels_pdf))
    m["trainer.positive_share"] = float(labels_pdf.label.mean())
    for df in (raw, linked, mentions, roots, cands, pairs, feats):
        df.unpersist()
    return m
