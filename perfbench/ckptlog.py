"""File-to-micro-batch mapping read from a file-stream checkpoint.

``DataFrame.inputFiles()`` is empty inside ``foreachBatch``, so which batch
read a landed file is taken from the checkpoint's source log
(``sources/0/<batchId>``): a ``v1`` header line, then one JSON entry per
file with ``path`` and ``batchId``.  Every tenth batch the log is compacted
into ``<batchId>.compact``, which repeats the entries of earlier batches.
A batch's commit time is the modification time of ``commits/<batchId>``.
"""

from __future__ import annotations

import json
import os
from urllib.parse import unquote, urlparse


def _log_files(log_dir: str) -> list[str]:
    out = []
    for name in os.listdir(log_dir):
        if name.startswith(".") or name.endswith((".tmp", ".crc")):
            continue
        stem = name[:-len(".compact")] if name.endswith(".compact") else name
        if stem.isdigit():
            out.append(name)
    return out


def file_batches(ckpt: str, source: int = 0) -> dict[str, int]:
    """Map each source file's base name to the batch that read it."""
    log_dir = os.path.join(ckpt, "sources", str(source))
    out: dict[str, int] = {}
    for name in _log_files(log_dir):
        with open(os.path.join(log_dir, name)) as f:
            lines = f.read().splitlines()
        for line in lines[1:]:          # line 0 is the format version
            if not line.strip():
                continue
            entry = json.loads(line)
            base = os.path.basename(unquote(urlparse(entry["path"]).path))
            batch = int(entry["batchId"])
            out[base] = min(batch, out.get(base, batch))
    return out


def commit_times(ckpt: str) -> dict[int, float]:
    """Batch id → commit time (epoch seconds) from ``commits/<id>``."""
    d = os.path.join(ckpt, "commits")
    return {int(n): os.stat(os.path.join(d, n)).st_mtime_ns / 1e9
            for n in os.listdir(d) if n.isdigit()}


def file_lags(ckpt: str, due: dict[str, float]) -> dict[str, float]:
    """Per landed file: commit time of its batch minus the time the file
    was due to land.  Files not yet committed are left out."""
    batches = file_batches(ckpt)
    commits = commit_times(ckpt)
    return {f: commits[batches[f]] - t for f, t in due.items()
            if f in batches and batches[f] in commits}


def backlog_max(landed: dict[str, float], ckpt: str) -> int:
    """Most files landed but not yet committed at any landing instant."""
    batches = file_batches(ckpt)
    commits = commit_times(ckpt)
    done = sorted(commits[batches[f]] for f in landed
                  if f in batches and batches[f] in commits)
    worst = 0
    for i, t in enumerate(sorted(landed.values()), start=1):
        worst = max(worst, i - sum(1 for c in done if c <= t))
    return worst
