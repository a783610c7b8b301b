"""The one on-disk commit protocol every resumable stage uses.

A commit writes its data where no reader looks yet, then publishes it
with ONE ``os.replace`` of a small text file. Readers follow only the
published file, so a crash before the replace leaves the previous commit
in force and a replay simply redoes the write; a crash after it finds
the new commit complete. Two layouts share that rule:

    <dir>/_MANIFEST.json       a stage manifest (sources/catalog.py) or
    <dir>/_STREAM_RUN_ID       a sink's run marker: one atomic text write
    <dir>/CURRENT              the A/B pointer: "<side>" or, for
                               non-idempotent streaming state,
                               "<side> <epoch> <run id>"
    <dir>/<side>/...           the data; each commit writes the side that
                               is not current, then flips the pointer

Callers: ``Checkpointer`` (sources/catalog.py), the kg, cms and gram
streaming state dirs, ANN index compaction, and the ``batch_id=<epoch>``
partition sinks' run-identity marker.

Every call here is a driver-local ``os`` call, so only plain paths and
``file://`` URIs are accepted. Any other scheme raises ``ValueError``:
``os.makedirs("hdfs://nn/x")`` would otherwise create a local ``hdfs:``
directory and every guard built on it would fail open.
"""

from __future__ import annotations

import json
import os
import warnings
from urllib.parse import urlsplit

POINTER = "CURRENT"
RUN_MARKER = "_STREAM_RUN_ID"


def local_path(uri: str) -> str:
    """The local path behind a plain path or ``file://`` URI; ValueError
    for any other scheme."""
    parts = urlsplit(uri)
    if not parts.scheme:
        return uri
    if parts.scheme == "file" and parts.netloc in ("", "localhost"):
        return parts.path
    raise ValueError(
        f"{uri!r}: commits are driver-local files published by an atomic "
        "rename; only plain paths and file:// URIs are supported"
    )


def local_dir(uri: str) -> str:
    """``local_path(uri)``, created if missing."""
    path = local_path(uri)
    os.makedirs(path, exist_ok=True)
    return path


def write_text(path: str, text: str) -> None:
    """Replace ``path`` with ``text`` atomically: a reader sees the old
    content or the new one, never a torn file."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


def read_pointer(state_dir: str) -> tuple[str | None, int, str | None]:
    """(side, epoch, run id) of the last commit under ``state_dir``;
    (None, -1, None) before the first. A pointer flipped without an epoch
    reads as epoch -1 and run id None."""
    try:
        with open(os.path.join(local_path(state_dir), POINTER)) as f:
            side, *rest = f.read().split()
    except FileNotFoundError:
        return None, -1, None
    return side, int(rest[0]) if rest else -1, rest[1] if len(rest) > 1 else None


def current(state_dir: str) -> str | None:
    """Path of the committed side, or None before the first commit."""
    side = read_pointer(state_dir)[0]
    return None if side is None else os.path.join(local_path(state_dir), side)


def flip(state_dir: str, write_side, sides: tuple[str, str] = ("a", "b"),
         epoch: int | None = None, run: str | None = None) -> None:
    """Commit new data under ``state_dir``: ``write_side(path)`` fills the
    next side (the first one unless it is current, else the second), then
    the pointer flips to it. ``epoch`` and ``run`` commit with the flip
    for ``guard_replay``."""
    state_dir = local_path(state_dir)
    nxt = sides[1] if read_pointer(state_dir)[0] == sides[0] else sides[0]
    write_side(os.path.join(state_dir, nxt))
    stamp = "" if run is None else f" {epoch} {run}"
    write_text(os.path.join(state_dir, POINTER), nxt + stamp)


def run_id(checkpoint_dir: str) -> str:
    """Identity of the streaming checkpoint whose epoch counter a replay
    guard trusts. Epoch ids only grow WITHIN one checkpoint; if the
    checkpoint is deleted (even at the SAME path) or repointed while the
    state persists, epochs restart at 0. The identity is therefore the
    unique query id Structured Streaming writes into the checkpoint's own
    ``metadata`` file at start, so a recreated checkpoint gets a fresh id
    even at the old path. Read it inside foreachBatch: the file exists
    once the stream has started."""
    with open(os.path.join(local_path(checkpoint_dir), "metadata")) as f:
        return json.load(f)["id"]


def guard_replay(state_dir: str, epoch_id: int, run: str) -> bool:
    """Admission for NON-IDEMPOTENT streaming state (counter addition):
    False means the epoch was already committed and its replay is a
    no-op. A state dir committed under another checkpoint, or by a
    pointer without a run id, is refused: its epoch counter cannot tell
    a replay from a new batch."""
    side, applied, committed_run = read_pointer(state_dir)
    if side is None:
        return True
    if committed_run is None:
        raise ValueError(
            f"state dir {state_dir!r} has a commit pointer without a run id: "
            "its epoch counter cannot tell a replay from a new batch; "
            "start a fresh state dir."
        )
    if committed_run != run:
        raise ValueError(
            f"state dir {state_dir!r} was built under a different streaming "
            f"checkpoint (run {committed_run}, now {run}): its epoch counter "
            "cannot distinguish replays from new batches. Resume with the "
            "original checkpointLocation, or start a fresh state dir."
        )
    return epoch_id > applied


def assert_sink_run_identity(out_dir: str, run: str) -> None:
    """Run-identity guard for the PARTITION-OVERWRITE sinks
    (``batch_id=<epoch>`` layout). They are idempotent against replays (a
    replayed epoch overwrites its own partition) but NOT against a
    deleted-and-recreated checkpoint: epochs restart at 0 and the new
    run's batches would silently clobber the old run's partitions with
    differently-bucketed data (availableNow batch boundaries are not
    stable across runs). The sink therefore stamps its owning run id
    (``run_id``) into the output dir on first write and refuses loudly on
    a mismatch. A dir holding partitions but no marker is stamped with a
    warning: there is no epoch continuity to check, and the stamp makes
    the NEXT mismatch loud. The marker name starts with ``_`` so parquet
    readers ignore it."""
    out_dir = local_dir(out_dir)
    marker = os.path.join(out_dir, RUN_MARKER)
    if os.path.exists(marker):
        with open(marker) as f:
            prev = f.read().strip()
        if prev != run:
            raise ValueError(
                f"output dir {out_dir!r} was written by streaming run "
                f"{prev} (now {run}): a recreated/repointed checkpoint "
                "restarts epochs at 0 and would overwrite that run's "
                "batch_id partitions. Clear the output dir or resume the "
                "original checkpointLocation."
            )
        return
    if any(n.startswith("batch_id=") for n in os.listdir(out_dir)):
        warnings.warn(
            f"output dir {out_dir!r}: stamping pre-existing batch_id "
            f"partitions with streaming run {run}",
            stacklevel=2,
        )
    write_text(marker, run)
