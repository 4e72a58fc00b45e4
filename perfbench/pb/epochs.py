"""Which input files each sink epoch read, from the query checkpoint.

Spark's file source appends every file it admits to
``<checkpoint>/sources/0/<n>`` (compacted every few batches into
``<n>.compact``), one JSON line per file with the source-log batch id
``batchId``. The query's own offset log ``<checkpoint>/offsets/<b>``
records, as its last line, the source offset ``{"logOffset": n}`` that
query batch ``b`` read up to; ``<checkpoint>/commits/<b>`` exists once
batch ``b`` completed. Query batch ``b`` is the sink epoch ``b``
(``foreachBatch`` passes it as ``batch_id``), so query batch ``b`` read
the source-log batches ``(logOffset[b-1], logOffset[b]]``; a batch whose
offset did not move is a no-data batch.
"""

from __future__ import annotations

import json
import os
from urllib.parse import unquote, urlparse


def _log_lines(path: str) -> list[str]:
    with open(path) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    if not lines or not lines[0].startswith("v"):
        raise ValueError(f"not a streaming metadata log file: {path}")
    return lines[1:]


def _batch_files(log_dir: str) -> dict[int, str]:
    """{batch id: file} for the numeric log files (``7``, ``9.compact``)
    of one metadata log directory; temporary and CRC files are skipped."""
    out = {}
    for name in os.listdir(log_dir):
        stem = name[: -len(".compact")] if name.endswith(".compact") else name
        if stem.isdigit():
            out[int(stem)] = os.path.join(log_dir, name)
    return out


def source_log(checkpoint: str, source: int = 0) -> dict[int, list[str]]:
    """{source-log batch id: [file basenames]} (compact files included)."""
    out: dict[int, list[str]] = {}
    for path in _batch_files(os.path.join(checkpoint, "sources", str(source))).values():
        for line in _log_lines(path):
            entry = json.loads(line)
            name = os.path.basename(unquote(urlparse(entry["path"]).path))
            out.setdefault(int(entry["batchId"]), [])
            if name not in out[int(entry["batchId"])]:
                out[int(entry["batchId"])].append(name)
    return out


def query_offsets(checkpoint: str) -> dict[int, int]:
    """{committed query batch: source logOffset it read up to}."""
    committed = set(_batch_files(os.path.join(checkpoint, "commits")))
    out = {}
    for b, path in _batch_files(os.path.join(checkpoint, "offsets")).items():
        if b in committed:
            out[b] = int(json.loads(_log_lines(path)[-1])["logOffset"])
    return out


def files_by_epoch(checkpoint: str) -> list[tuple[int, list[str]]]:
    """[(epoch, [files read])] for every committed query batch in order;
    no-data batches carry an empty list."""
    log = source_log(checkpoint)
    prev = -1
    out = []
    for b, off in sorted(query_offsets(checkpoint).items()):
        files = [f for n in range(prev + 1, off + 1) for f in sorted(log.get(n, []))]
        out.append((b, files))
        prev = max(prev, off)
    return out


def file_lags(
    epochs: list[tuple[int, list[str]]],
    committed_at: dict[int, float],
    dropped_at: dict[str, float],
) -> dict[str, float]:
    """{file: seconds from its scheduled drop to the commit of the
    epoch that read it}, for every file in ``dropped_at`` that was read
    by a committed epoch."""
    lags = {}
    for epoch, files in epochs:
        for f in files:
            if f in dropped_at and epoch in committed_at:
                lags[f] = committed_at[epoch] - dropped_at[f]
    return lags


def files_behind_max(
    epochs: list[tuple[int, list[str]]],
    batch_started_at: dict[int, float],
    dropped_at: dict[str, float],
) -> int:
    """Largest number of files already dropped but not yet read, seen at
    the start of any batch (the source's backlog as a batch saw it)."""
    read = 0
    worst = 0
    for epoch, files in epochs:
        t = batch_started_at.get(epoch)
        if t is not None:
            dropped = sum(1 for d in dropped_at.values() if d <= t)
            worst = max(worst, dropped - read)
        read += sum(1 for f in files if f in dropped_at)
    return worst
