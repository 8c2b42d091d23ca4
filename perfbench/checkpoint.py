"""Read a file-stream query's checkpoint: which micro-batch took each
source file, and when each micro-batch committed.

Layout (Spark's own):

- ``sources/0/<N>`` — the file source's metadata log for batch N: a
  version line, then one JSON entry per file
  (``{"path": ..., "timestamp": ..., "batchId": N}``). Every
  ``compactInterval`` batches the log instead writes ``<N>.compact``,
  which repeats the entries of every earlier batch, each still
  carrying its own ``batchId``; the plain files it covers may later be
  deleted.
- ``commits/<N>`` — written once batch N's sink (``foreachBatch``)
  has returned. Its modification time is the batch's commit time.
"""

from __future__ import annotations

import json
import os


def _log_entries(path: str):
    with open(path) as f:
        lines = f.read().splitlines()
    for line in lines[1:]:  # line 0 is the log version, e.g. "v1"
        line = line.strip()
        if line:
            yield json.loads(line)


def _log_name_batch(name: str) -> int | None:
    stem = name[: -len(".compact")] if name.endswith(".compact") else name
    return int(stem) if stem.isdigit() else None


def file_batches(ckpt: str) -> dict[str, int]:
    """Source file basename → the batch id that read it, from plain
    and ``.compact`` log files alike. Temp and checksum files are
    skipped."""
    log_dir = os.path.join(ckpt, "sources", "0")  # the query's only source
    out: dict[str, int] = {}
    try:
        names = os.listdir(log_dir)
    except FileNotFoundError:
        return out
    for name in names:
        if _log_name_batch(name) is None:
            continue
        for entry in _log_entries(os.path.join(log_dir, name)):
            out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def commit_times(ckpt: str) -> dict[int, float]:
    """Batch id → commit time (epoch seconds, the commit file's
    modification time)."""
    cdir = os.path.join(ckpt, "commits")
    out: dict[int, float] = {}
    try:
        names = os.listdir(cdir)
    except FileNotFoundError:
        return out
    for name in names:
        if name.isdigit():
            out[int(name)] = os.stat(os.path.join(cdir, name)).st_mtime
    return out


def file_latencies(
    due: dict[str, float], ckpt: str
) -> tuple[dict[str, float], dict[str, int], list[str]]:
    """For each offered file (basename → due time, epoch seconds):
    the latency from due to the commit of the batch that read it.

    Returns (latency by file, batch by file, files never committed).
    A file missing from the source log, or read by a batch without a
    commit file, counts as never committed."""
    batches = file_batches(ckpt)
    commits = commit_times(ckpt)
    lat: dict[str, float] = {}
    batch_of: dict[str, int] = {}
    missing: list[str] = []
    for name, t_due in due.items():
        bid = batches.get(name)
        if bid is None or bid not in commits:
            missing.append(name)
            continue
        batch_of[name] = bid
        lat[name] = commits[bid] - t_due
    return lat, batch_of, sorted(missing)
