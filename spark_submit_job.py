"""Cluster entrypoint — the north rule's execution mode:

    spark-submit --master <cluster> --py-files dist/obie_spark.zip \
        spark_submit_job.py train   --source s3://.../source --gold ... --weights ...
    spark-submit --master <cluster> --py-files dist/obie_spark.zip \
        spark_submit_job.py extract --source ... --weights ... --output ... \
        --checkpoint-dir ...

The job builds its SparkSession with ``getOrCreate()`` and NO master, so
spark-submit's ``--master`` / ``--num-executors`` control cluster size (the
N vs 4N runs of BASELINE.json differ only in submit flags). The package is
shipped via ``--py-files`` (build the zip with ``python tools/make_pyfiles.py``);
this file itself imports it like any cluster node would.

* ``train``: read the source table ``(repo, path, commit, lang, content)``
  and a gold-triples table, fit the pipeline (trainer auto-selects the
  distributed path beyond the driver-safe pair count), write the weights
  file — the constant-cost planning artifact every extract run broadcasts.
* ``extract``: read the source table, run the fused extraction kernel (one
  map stage, model broadcast, zero corpus-sized shuffles), write triples
  partitioned by (repo, lang) with hot-predicate salting, and checkpoint
  per-partition lineage + metrics so an interrupted run resumes
  idempotently (manifest-gated commit in sources/catalog.py).
* ``incremental``: crawl-over-crawl CDC — diff the new snapshot against
  ``--prev-source`` by (doc_key, sha256), run the fused kernel ONLY over
  changed/new documents, carry ``--prev-triples`` forward for unchanged
  ones, drop deleted documents' triples (delta-sized cost per crawl;
  pinned equal to a full extract in tests/test_spark_submit.py).

The per-row invariant of BASELINE.json (content sha256 equality vs the
source table) is checked inside ``extract`` and written to the metrics log.
"""

from __future__ import annotations

import argparse
import time

from pyspark.sql import DataFrame, SparkSession, functions as F


def _ontology(domain: str):
    from obiemachinelearningframework_spark.fixtures import (
        code_ontology,
        disease_ontology,
        soccer_ontology,
    )

    return {"soccer": soccer_ontology, "disease": disease_ontology,
            "code": code_ontology}[domain]()


def content_check(source: DataFrame) -> tuple[str | None, int]:
    """(digest, sha256 mismatches) of ``source`` in one aggregation.

    The digest, an order-insensitive sum over per-row sha256(content), is
    recomputed by a resumed run and compared with the committed manifest's,
    so a source swapped or corrupted between attempts is detected. The
    mismatches are rows whose stored ``sha256`` differs; 0 without one."""
    h = F.sha2("content", 256)
    bad = F.count(F.when(h != F.col("sha256"), 1)) if "sha256" in source.columns else F.lit(0)
    digest = F.sum(F.conv(F.substring(h, 1, 15), 16, 10).cast("decimal(38,0)")).cast("string")
    return tuple(source.agg(digest, bad).collect()[0])


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("mode", choices=["train", "extract", "incremental"])
    ap.add_argument("--source", required=True,
                    help="parquet dir of (repo, path, commit, lang, content)")
    ap.add_argument("--domain", default="soccer", choices=["soccer", "disease", "code"])
    ap.add_argument("--weights", required=True, help="weights file (json-lines)")
    ap.add_argument("--gold", help="train: parquet dir of gold (doc_key, subj, pred, obj)")
    ap.add_argument("--output", help="extract: triples sink dir")
    ap.add_argument("--checkpoint-dir", help="extract: stage checkpoint + lineage dir")
    ap.add_argument("--prev-source",
                    help="incremental: parquet dir of the PREVIOUS snapshot")
    ap.add_argument("--prev-triples",
                    help="incremental: triples dir of the previous extract run")
    args = ap.parse_args()

    # master/executors come from spark-submit flags — never hardcoded here
    spark = SparkSession.builder.appName(f"obie-{args.mode}").getOrCreate()
    t0 = time.perf_counter()

    from obiemachinelearningframework_spark.operators.triples import write_triples
    from obiemachinelearningframework_spark.plans.pipeline import OBIEPipeline

    source = spark.read.parquet(args.source)
    pipe = OBIEPipeline(spark, _ontology(args.domain))
    inst = pipe.prepare(source)

    if args.mode == "train":
        assert args.gold, "--gold required for train"
        gold = spark.read.parquet(args.gold)
        pipe.fit(inst, gold)
        pipe.save_weights(args.weights)
        print(f"trained: {len(pipe.weights)} weights -> {args.weights}")
        return

    assert args.output, f"--output required for {args.mode}"
    if args.mode == "incremental":
        assert args.prev_source and args.prev_triples, (
            "--prev-source and --prev-triples required for incremental")

    ck = None
    if args.checkpoint_dir:
        from obiemachinelearningframework_spark.sources.catalog import Checkpointer

        ck = Checkpointer(spark, args.checkpoint_dir)
        if ck.exists("triples"):
            # idempotent resume (north rule): the manifest is the atomic
            # commit point — a re-run after success (or a retry racing a
            # finished attempt) does no work and changes nothing, but the
            # content invariant IS re-checked against the committed digest.
            # The digest lives IN the manifest meta (committed in the same
            # os.replace as the stage), so there is no crash window where a
            # committed stage lacks its digest; a manifest without one is a
            # foreign/corrupt checkpoint and resume must fail, not skip the
            # integrity check.
            committed = ck.manifest("triples").get("meta", {}).get("content_digest")
            assert committed is not None, (
                "committed triples manifest has no content_digest — refusing "
                "to resume without source-integrity verification"
            )
            live = content_check(source)[0]
            assert committed == live, (
                f"source content changed since the committed run "
                f"(digest {live} != committed {committed})"
            )
            n = ck.read("triples").count()
            print(f"resume: triples stage already committed ({n} rows); skipping extraction")
            return
    pipe.load_weights(args.weights)
    inst = inst.cache()

    extra_metrics = {}
    if args.mode == "incremental":
        # crawl-over-crawl CDC (the kg_incremental_extract loop on the
        # production pipeline): re-run the fused kernel ONLY over
        # documents whose (doc_key, sha256) pair is new or changed since
        # the previous snapshot; carry the previous run's triples forward
        # for unchanged documents; triples of deleted documents drop out.
        # At 10^12 files a crawl touches a small fraction of the table —
        # this turns the per-crawl cost from corpus-sized to delta-sized.
        prev_sha = pipe.prepare(spark.read.parquet(args.prev_source)).select(
            "doc_key", F.col("sha256").alias("psha"))
        new_sha = inst.select("doc_key", "sha256")
        cdc = new_sha.join(prev_sha, "doc_key", "full").cache()
        changed = cdc.filter(
            F.col("sha256").isNotNull()
            & (F.col("psha").isNull() | (F.col("sha256") != F.col("psha")))
        ).select("doc_key")
        unchanged = cdc.filter(F.col("sha256") == F.col("psha")).select("doc_key")
        n_changed, n_unchanged = changed.count(), unchanged.count()
        n_deleted = cdc.filter(F.col("sha256").isNull()).count()
        re_extracted = pipe.predict_fused(
            inst.join(changed, "doc_key", "left_semi").cache(),
            carry_cols=("repo", "lang"),
        )
        cols = ["doc_key", "subj", "pred", "obj", "repo", "lang"]
        carried = (
            spark.read.parquet(args.prev_triples)
            .select(*cols)
            .join(unchanged, "doc_key", "left_semi")
        )
        write_triples(carried.unionByName(re_extracted.select(*cols)), args.output)
        print(
            f"incremental: re-extracted {n_changed} changed docs, carried "
            f"{n_unchanged} unchanged, dropped {n_deleted} deleted"
        )
        extra_metrics = {"n_changed": n_changed, "n_unchanged": n_unchanged,
                         "n_deleted": n_deleted}
    else:
        # (repo, lang) ride through the fused kernel onto every triple, so
        # the partitioned+salted sink is a pure map->shuffle-on-write — no
        # join (and especially no broadcast) against the corpus-sized
        # instance table
        triples = pipe.predict_fused(inst, carry_cols=("repo", "lang"))
        write_triples(triples, args.output)

    # the per-row content invariant vs the source table (BASELINE.json)
    digest, bad = content_check(source)
    n_triples = spark.read.parquet(args.output).count()
    print(f"extracted: {n_triples} triples -> {args.output}; sha256 mismatches: {bad}")
    # the invariant must gate the COMMIT: asserting after ck.write would
    # leave a committed manifest behind, and the idempotent-resume path
    # would then mask the violation on every retry
    assert bad == 0, f"{bad} rows failed the content sha256 invariant"
    if ck is not None:
        # the digest rides IN the manifest meta so it commits in the same
        # os.replace as the stage — no crash window between "stage
        # committed" and "digest recorded" for the resume path to hit
        ck.write("triples", spark.read.parquet(args.output),
                 meta={"mode": args.mode, "content_digest": digest})
        ck.log_metrics("triples", {"n_triples": n_triples, "sha256_mismatches": bad,
                                   "content_digest": digest, **extra_metrics,
                                   "wall_s": round(time.perf_counter() - t0, 3)})


if __name__ == "__main__":
    main()
