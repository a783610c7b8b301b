"""Correctness checks on the outputs the benchmarked jobs leave on disk.

Spark-free on purpose: the sinks are read file by file with pyarrow, so a
check sees exactly the bytes and directories the job wrote, and the tests
can run every check against a corrupted copy of a real output.
"""

from __future__ import annotations

import json
import os
from urllib.parse import unquote

import pandas as pd
import pyarrow.parquet as pq

MIN_PRECISION = 0.95
MIN_RECALL = 0.95
TRIPLE = ["doc_key", "subj", "pred", "obj"]


class CheckFailed(AssertionError):
    """An output of the benchmarked job is wrong."""


def read_sink(path: str) -> pd.DataFrame:
    """Every row of a ``repo=``/``lang=`` partitioned triples sink, with the
    partition values taken from the directories the row's file lies in."""
    frames = []
    for dirpath, _, files in os.walk(path):
        rel = os.path.relpath(dirpath, path)
        part = dict(
            (k, unquote(v)) for k, _, v in
            (seg.partition("=") for seg in rel.split(os.sep) if "=" in seg)
        )
        for name in sorted(files):
            if name.startswith((".", "_")) or not name.endswith(".parquet"):
                continue
            df = pq.read_table(os.path.join(dirpath, name), columns=TRIPLE).to_pandas()
            df["repo"], df["lang"] = part.get("repo"), part.get("lang")
            frames.append(df)
    if not frames:
        raise CheckFailed(f"no parquet files under {path}")
    return pd.concat(frames, ignore_index=True)


def triple_set(df: pd.DataFrame) -> set:
    return set(df[TRIPLE].itertuples(index=False, name=None))


def check_quality(pred: pd.DataFrame, gold: pd.DataFrame) -> float:
    """Micro P and R of ``pred`` against ``gold`` over
    (doc_key, subj, pred, obj), both at least 0.95. Returns micro F1."""
    p_set, g_set = triple_set(pred), triple_set(gold)
    tp = len(p_set & g_set)
    precision = tp / len(p_set) if p_set else 0.0
    recall = tp / len(g_set) if g_set else 0.0
    if precision < MIN_PRECISION or recall < MIN_RECALL:
        raise CheckFailed(
            f"P={precision:.4f} R={recall:.4f} over {len(p_set)} predicted and "
            f"{len(g_set)} gold triples (both must be >= {MIN_PRECISION})")
    return 2 * precision * recall / (precision + recall)


def check_layout(sink: pd.DataFrame, source: pd.DataFrame) -> None:
    """Every sink row lies under the ``repo=``/``lang=`` directory of its
    document's row in ``source`` (doc_key, repo, lang)."""
    want = source.set_index("doc_key")[["repo", "lang"]]
    missing = ~sink.doc_key.isin(want.index)
    if missing.any():
        raise CheckFailed(f"{int(missing.sum())} sink rows of unknown documents, "
                          f"e.g. {sink.doc_key[missing].iloc[0]}")
    exp = want.loc[sink.doc_key]
    bad = (exp.repo.to_numpy() != sink.repo.to_numpy()) | (exp.lang.to_numpy() != sink.lang.to_numpy())
    if bad.any():
        row = sink[bad].iloc[0]
        raise CheckFailed(f"{int(bad.sum())} sink rows under the wrong partition, e.g. "
                          f"{row.doc_key} under repo={row.repo}/lang={row.lang}")


def check_commit(sink: pd.DataFrame, checkpoint_dir: str) -> None:
    """The job's commit holds exactly the sink: the checkpoint copy has the
    same triples, and the manifest and the metrics log count them."""
    with open(os.path.join(checkpoint_dir, "triples", "_MANIFEST.json")) as f:
        manifest = json.load(f)
    copy = read_sink(os.path.join(checkpoint_dir, "triples", "data"))
    counts = {"sink": len(sink), "checkpoint copy": len(copy), "manifest": manifest["rows"],
              "metrics log": read_metrics(checkpoint_dir).get("n_triples")}
    if len(set(counts.values())) != 1:
        raise CheckFailed(f"triple counts disagree: {counts}")
    if sorted(sink[TRIPLE].itertuples(index=False)) != sorted(copy[TRIPLE].itertuples(index=False)):
        raise CheckFailed("the checkpoint copy holds other triples than the sink")


def read_metrics(checkpoint_dir: str) -> dict:
    """The last record the job logged for its triples stage."""
    rec: dict = {}
    with open(os.path.join(checkpoint_dir, "_metrics.jsonl")) as f:
        for line in f:
            r = json.loads(line)
            if r.get("stage") == "triples":
                rec = r
    return rec


def check_incremental(sink: pd.DataFrame, full: pd.DataFrame, metrics: dict,
                      planted: dict, deleted_keys: set) -> None:
    """The refreshed sink equals a full extract of the new snapshot, the
    job's logged changed/unchanged/deleted counts equal the planted ones,
    and no triple of a deleted document survives."""
    for k, n in planted.items():
        if metrics.get(k) != n:
            raise CheckFailed(f"metrics log {k}={metrics.get(k)}, planted {n}")
    kept = sink.doc_key.isin(deleted_keys)
    if kept.any():
        raise CheckFailed(f"{int(kept.sum())} triples of deleted documents kept, "
                          f"e.g. {sink.doc_key[kept].iloc[0]}")
    inc, ref = triple_set(sink), triple_set(full)
    if inc != ref:
        raise CheckFailed(f"incremental sink differs from a full extract: "
                          f"{len(inc - ref)} extra, {len(ref - inc)} missing triples")
