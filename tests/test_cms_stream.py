"""Streaming CMS (streaming/cms_stream.py): the running sketch merged
across micro-batch drains must equal the batch sketch of all documents
at rest EXACTLY (mergeability: counters add, merging loses nothing),
estimates must match the pure-Python sketch, and a re-drain with no new
files must not change the state (exactly-once).
"""

import datetime
import hashlib
from collections import Counter

from obiemachinelearningframework_spark.queries import CMS_D, CMS_W
from obiemachinelearningframework_spark.streaming.cms_stream import (
    batch_sketch,
    estimate,
    read_sketch,
    stream_cms,
)
from obiemachinelearningframework_spark.streaming.dedup_stream import DOC_SCHEMA

T0 = datetime.datetime(2026, 1, 1, 12, 0, 0)

BATCH1 = [
    (1, "join hash join vector", "en", "web", T0),
    (2, "hash table scan", "en", "web", T0),
]
BATCH2 = [
    (3, "join join join scan", "en", "crawl", T0),
    (4, "vector vector hash", "en", "crawl", T0),
]


def _bucket(r: int, token: str) -> int:
    h = hashlib.md5(token.encode()).hexdigest()[8 * r : 8 * r + 8]
    return int(h, 16) % CMS_W


def _write(spark, rows, path):
    spark.createDataFrame(rows, DOC_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def test_stream_cms_merge_is_exact(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")

    _write(spark, BATCH1, in_dir)
    stream_cms(spark, in_dir, state, ck)
    _write(spark, BATCH2, in_dir)
    stream_cms(spark, in_dir, state, ck)

    merged = {
        (r.r, r.bucket): r.cnt for r in read_sketch(spark, state).collect()
    }
    at_rest = {
        (r.r, r.bucket): r.cnt
        for r in batch_sketch(
            spark.createDataFrame(BATCH1 + BATCH2, DOC_SCHEMA)
        ).collect()
    }
    assert merged == at_rest  # mergeability: merge loses nothing
    assert len(merged) <= CMS_D * CMS_W

    # estimates match the pure-Python sketch and never undercount
    counts = Counter(
        t for _, text, *_ in BATCH1 + BATCH2 for t in text.split(" ") if t
    )
    sketch = [Counter() for _ in range(CMS_D)]
    for token, n in counts.items():
        for r in range(CMS_D):
            sketch[r][_bucket(r, token)] += n
    got = estimate(
        read_sketch(spark, state), ["join", "hash", "vector", "missing"]
    )
    for token in ("join", "hash", "vector"):
        want = min(sketch[r][_bucket(r, token)] for r in range(CMS_D))
        assert got[token] == want >= counts[token]
    assert got["missing"] <= 1  # unseen token: only collision mass

    # exactly-once: a re-drain with no new files leaves the state as-is
    stream_cms(spark, in_dir, state, ck)
    again = {
        (r.r, r.bucket): r.cnt for r in read_sketch(spark, state).collect()
    }
    assert again == merged


def test_merge_batch_replay_is_noop(spark, tmp_path):
    """Crash-replay safety: counter addition is not idempotent, so a
    replayed epoch (checkpoint lost after the A/B flip) must be skipped
    by the epoch guard, not re-added."""
    import os

    from obiemachinelearningframework_spark.streaming.cms_stream import (
        _merge_batch,
    )

    state = str(tmp_path / "state2")
    os.makedirs(state, exist_ok=True)
    docs = spark.createDataFrame(BATCH1, DOC_SCHEMA)

    _merge_batch(spark, docs, state, epoch_id=0, run_id="runA")
    once = {(r.r, r.bucket): r.cnt for r in read_sketch(spark, state).collect()}
    # replay of epoch 0 under the SAME checkpoint identity -> no-op
    _merge_batch(spark, docs, state, epoch_id=0, run_id="runA")
    assert {
        (r.r, r.bucket): r.cnt for r in read_sketch(spark, state).collect()
    } == once

    # a NEW epoch does add
    _merge_batch(spark, docs, state, epoch_id=1, run_id="runA")
    twice = {(r.r, r.bucket): r.cnt for r in read_sketch(spark, state).collect()}
    assert twice == {k: 2 * v for k, v in once.items()}


def test_merge_batch_rejects_foreign_checkpoint(spark, tmp_path):
    """ADVICE r3: if the streaming checkpoint is deleted/repointed while
    the state dir persists, epochs restart at 0 and the bare epoch guard
    would silently skip every new batch forever. A run-identity mismatch
    must fail loudly instead."""
    import os

    import pytest

    from obiemachinelearningframework_spark.streaming.cms_stream import (
        _merge_batch,
    )

    state = str(tmp_path / "state3")
    os.makedirs(state, exist_ok=True)
    docs = spark.createDataFrame(BATCH1, DOC_SCHEMA)

    _merge_batch(spark, docs, state, epoch_id=5, run_id="runA")
    # fresh checkpoint (epochs restarted at 0) against the old state
    with pytest.raises(ValueError, match="different streaming checkpoint"):
        _merge_batch(spark, docs, state, epoch_id=0, run_id="runB")


def test_recreated_checkpoint_at_same_path_rejected(spark, tmp_path):
    """Code-review r4: a path-derived run identity misses the most common
    failure — deleting and recreating the checkpoint at the SAME path.
    The identity now comes from the checkpoint's own metadata query id,
    so a fresh checkpoint at the old path must fail loudly against the
    surviving state dir instead of silently skipping batches."""
    import shutil

    import pytest

    in_dir = str(tmp_path / "in")
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    _write(spark, BATCH1, in_dir)
    stream_cms(spark, in_dir, state, ck)
    assert read_sketch(spark, state).count() > 0

    shutil.rmtree(ck)                      # crash-cleanup of the checkpoint
    _write(spark, BATCH2, in_dir)
    with pytest.raises(Exception, match="different streaming checkpoint"):
        stream_cms(spark, in_dir, state, ck)


def test_pointer_without_run_id_is_refused(spark, tmp_path):
    """ADVICE r4/r5: a CURRENT pointer committed before run ids existed
    (two-field format) cannot tell a replay from a recreated checkpoint
    (epochs restarted at 0), whatever epoch arrives. It is refused loudly
    with the state untouched, never migrated (a migration that waits for
    a new epoch wedges the stream when the crash window replays the old
    one)."""
    import os

    import pytest

    from obiemachinelearningframework_spark.sources import commit
    from obiemachinelearningframework_spark.streaming.cms_stream import _merge_batch

    state = str(tmp_path / "state_legacy")
    os.makedirs(state, exist_ok=True)
    docs = spark.createDataFrame(BATCH1, DOC_SCHEMA)

    _merge_batch(spark, docs, state, epoch_id=3, run_id="runA")
    once = {(r.r, r.bucket): r.cnt for r in read_sketch(spark, state).collect()}
    # rewrite the pointer in the LEGACY two-field format (no run id)
    side, epoch, _ = commit.read_pointer(state)
    with open(os.path.join(state, commit.POINTER), "w") as f:
        f.write(f"{side} {epoch}")

    for epoch_id in (0, 3, 4):
        with pytest.raises(ValueError, match="start a fresh state dir"):
            _merge_batch(spark, docs, state, epoch_id=epoch_id, run_id="runA")
    assert {(r.r, r.bucket): r.cnt
            for r in read_sketch(spark, state).collect()} == once
