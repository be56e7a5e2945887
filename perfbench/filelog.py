"""Which micro-batch read which file, from a file-source checkpoint.

A streaming file source records the files of batch N in
``<checkpoint>/sources/<i>/N``: a version line, then one JSON entry per
file with its ``path`` and ``batchId``. Every tenth batch the log is
compacted: ``N.compact`` repeats the entries of all earlier batches and
the older per-batch files may be removed. Reading both kinds and keying
by path gives every file exactly once.
"""

from __future__ import annotations

import json
import os
from urllib.parse import unquote, urlparse


def _local(path: str) -> str:
    return unquote(urlparse(path).path) if path.startswith("file:") else path


def file_batches(checkpoint: str, source: int = 0) -> dict[str, int]:
    """Absolute local file path -> id of the batch that read it."""
    log_dir = os.path.join(checkpoint, "sources", str(source))
    out: dict[str, int] = {}
    if not os.path.isdir(log_dir):
        return out
    for name in os.listdir(log_dir):
        stem = name[:-len(".compact")] if name.endswith(".compact") else name
        if not stem.isdigit():
            continue                      # temp files, .crc
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                line = line.strip()
                if not line.startswith("{"):
                    continue              # the version header
                entry = json.loads(line)
                out[_local(entry["path"])] = int(entry["batchId"])
    return out
