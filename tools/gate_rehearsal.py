"""100x-rehearsal of the three driver-gate thresholds (round-4 verdict
next-round #6): prove each scale gate actually flips to its distributed
branch on over-threshold input and that the output is unchanged across
the flip (for the ANN geometry gate, whose output changes BY DESIGN,
prove the gauge invariant instead: dynamic bits keep bucket saturation
bounded where the static geometry saturates).

Gates:
  1. canonicalize.DRIVER_CC_MAX (200k edges): driver union-find vs
     distributed pointer-jumping, full-output parity on a >600k-edge
     graph over ~1M nodes.
  2. fused.LINK_MAP_DRIVER_MAX (512 unknown surfaces): driver py_link_map
     vs linking.build_link_map on a multi-thousand-surface vocabulary
     derived from a ~2M-token synthetic corpus, full-map parity.
  3. queries._ann_bits_for: at 1.5M vectors the geometry must grow
     (10 -> 13 bits) and hold the saturated-bucket fraction near zero
     while the static 10-bit geometry saturates.

Writes one JSON line; paste the numbers into BENCH/SCALING_PIPELINE.md.

Usage: SPARK_GRAFT_CPUS=32 python tools/gate_rehearsal.py
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def rehearse_cc(spark, out: dict) -> None:
    from pyspark.sql import functions as F

    from obiemachinelearningframework_spark.operators.canonicalize import (
        DRIVER_CC_MAX,
        connected_components,
    )

    # ~1M nodes, 650k edges (3.25x the gate): 50k chains of 10 nodes
    # (min-id propagation needs real diameter) + 150k star edges
    n_chain, chain_len = 50_000, 10
    chains = (
        spark.range(n_chain * (chain_len - 1))
        .select(
            (F.col("id") % n_chain * 100 + F.col("id") / n_chain).cast("long").alias("src"),
            (F.col("id") % n_chain * 100 + F.col("id") / n_chain + 1).cast("long").alias("dst"),
        )
    )
    stars = (
        spark.range(200_000)
        .select(
            (F.col("id") % 2_000 + 10_000_000).alias("src"),
            (F.col("id") + 20_000_000).alias("dst"),
        )
    )
    edges = chains.unionByName(stars)
    n_edges = edges.count()
    assert n_edges > 3 * DRIVER_CC_MAX, n_edges

    t0 = time.time()
    dist = connected_components(edges)              # default gate -> distributed
    dist_rows = dist.cache().count()
    t_dist = time.time() - t0
    t0 = time.time()
    drv = connected_components(edges, driver_max=10**9)  # forced driver branch
    drv_rows = drv.cache().count()
    t_drv = time.time() - t0
    mismatches = (
        dist.join(drv.withColumnRenamed("component", "c2"), "id", "full")
        .filter("component IS DISTINCT FROM c2")
        .count()
    )
    dist.unpersist(); drv.unpersist()
    out["cc_gate"] = {
        "edges": n_edges, "gate": DRIVER_CC_MAX,
        "distributed_rows": dist_rows, "driver_rows": drv_rows,
        "mismatching_nodes": mismatches,
        "t_distributed_s": round(t_dist, 2), "t_driver_s": round(t_drv, 2),
    }


def rehearse_link_map(spark, out: dict) -> None:
    from pyspark.sql import functions as F

    from obiemachinelearningframework_spark.fixtures import generate_corpus
    from obiemachinelearningframework_spark.operators import fused as Fz
    from obiemachinelearningframework_spark.operators.linking import build_link_map
    from obiemachinelearningframework_spark.plans.pipeline import OBIEPipeline

    c = generate_corpus("soccer", n_docs=10, seed=3)
    pipe = OBIEPipeline(spark, c["ontology"])

    # ~2M-token synthetic corpus carrying ~6k distinct capitalized
    # surfaces (the run regex admits [A-Z][a-z]{3,}) — ~12x the 512 gate
    def letters(n, width=4):
        return "".join(chr(97 + (n // 26**i) % 26) for i in range(width))

    rows = []
    for d in range(25_000):
        words = " then ".join(
            f"Zqx{letters(d % 300)}v{letters(w, 2)}" for w in range(40))
        rows.append(("r", f"f{d}.txt", "c0ffee00", "py", words))
    syn = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string")
    # mix in fixture docs (natural near-miss surfaces) so the parity
    # check compares NON-EMPTY link maps, not two empty dicts
    fix = generate_corpus("soccer", n_docs=500, seed=11)
    syn = syn.unionByName(
        spark.createDataFrame(fix["source"])[syn.columns])
    inst = pipe.prepare(syn).repartition(32, "doc_key").cache()
    n_tokens = (
        inst.select(F.size(F.split("content", " ")).alias("n"))
        .agg(F.sum("n")).collect()[0][0]
    )

    win_df = Fz.unknown_vocabulary_df(inst, c["ontology"]).cache()
    n_vocab = win_df.count()
    assert n_vocab > Fz.LINK_MAP_DRIVER_MAX, n_vocab

    t0 = time.time()
    driver_map = Fz.py_link_map([r["text"] for r in win_df.collect()], c["ontology"])
    t_drv = time.time() - t0
    t0 = time.time()
    rows = build_link_map(win_df, c["ontology"], spark).collect()
    dist_map: dict = {}
    for r in sorted(rows, key=lambda r: (r["token"], r["rank"])):
        dist_map.setdefault(r["token"], []).append((r["type_id"], r["class_id"]))
    t_dist = time.time() - t0
    win_df.unpersist(); inst.unpersist()
    out["link_map_gate"] = {
        "corpus_tokens": int(n_tokens), "unknown_vocab": n_vocab,
        "gate": Fz.LINK_MAP_DRIVER_MAX,
        "driver_map_entries": len(driver_map),
        "distributed_map_entries": len(dist_map),
        "maps_equal": driver_map == dist_map,
        "t_driver_s": round(t_drv, 2), "t_distributed_s": round(t_dist, 2),
    }


def rehearse_ann_bits(out: dict) -> None:
    import hashlib

    from obiemachinelearningframework_spark.queries import (
        ANN_BUCKET_CAP,
        ANN_TABLES,
        _ann_bits_for,
    )

    n, dim = 1_500_000, 16
    bits_dyn = _ann_bits_for(n)
    assert bits_dyn > 10, bits_dyn
    rng = np.random.default_rng(7)
    # clustered corpus (the regime LSH exists for): 4096 centers + noise
    centers = rng.normal(size=(4096, dim))
    assign = rng.integers(0, 4096, size=n)
    V = centers[assign] + 0.15 * rng.normal(size=(n, dim))

    def w_for(total: int) -> np.ndarray:
        W = np.empty((total, dim))
        for p in range(total):
            for d in range(dim):
                h = hashlib.md5(f"{p}:{d}".encode()).hexdigest()
                W[p, d] = (ord(h[0]) * 256 + ord(h[1])) / 65536.0 - 0.5
        return W

    for label, bits in (("static_10", 10), (f"dynamic_{bits_dyn}", bits_dyn)):
        W = w_for(ANN_TABLES * bits)
        sat = tot = 0
        sizes: dict = {}
        for lo in range(0, n, 250_000):
            P = V[lo:lo + 250_000] @ W.T
            P3 = P.reshape(len(P), ANN_TABLES, bits)
            b = (P3 > 1e-6).astype(np.int64)
            buckets = (b << np.arange(bits, dtype=np.int64)).sum(axis=2)
            for t in range(ANN_TABLES):
                for bk in buckets[:, t]:
                    sizes[(t, bk)] = sizes.get((t, bk), 0) + 1
        eligible = [v for v in sizes.values() if v >= 2]
        sat = sum(1 for v in eligible if v > ANN_BUCKET_CAP)
        out.setdefault("ann_bits_gate", {})[label] = {
            "bits": bits,
            "pair_eligible_buckets": len(eligible),
            "saturated_fraction": round(sat / max(len(eligible), 1), 4),
            "p50_bucket": int(np.median(eligible)),
            "p99_bucket": int(np.percentile(eligible, 99)),
        }
    out["ann_bits_gate"]["n_vectors"] = n
    out["ann_bits_gate"]["bits_in_force"] = bits_dyn


def main() -> None:
    from obiemachinelearningframework_spark.session import get_spark, local_cpus

    cpus = local_cpus()

    spark = get_spark("gates", master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {}
    rehearse_cc(spark, out)
    rehearse_link_map(spark, out)
    rehearse_ann_bits(out)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
