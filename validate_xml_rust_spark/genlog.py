"""Generation log: the commit record of every durable store.

The reference keeps its cross-run state as a content store plus a JSON
metadata sidecar (src/cache.rs:139-316). The engine's stores do the same:
each writes its payload (parquet) first, then publishes one JSON record
here, and readers see only what a record names. The stores are the
near-dedup ``SignatureStore`` (operators/dedup.py), the training-shard
store's begin/done log (operators/outputs.py) and the resume manifest's
snapshot ids (operators/resume.py).

Layout: ``root/_log/<generation>.json``, one file per record. Spark's file
listing skips ``_``-prefixed names, so a log inside a parquet directory is
invisible to ``spark.read.parquet(root)``.

A record is written to a temp file, fsynced, then published with
``os.link`` to the next free ``<generation>.json``. The link fails if the
name exists, so two writers that computed the same generation never both
take it: the loser moves on to the next one. A crash leaves either no
record or a whole one (plus, at worst, a temp file that readers ignore).
Everything here is plain file IO on the driver: no Spark job per record.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time

LOG_DIR = "_log"


def _log_dir(root: str) -> str:
    return os.path.join(root, LOG_DIR)


def _generations(log: str) -> list[int]:
    try:
        names = os.listdir(log)
    except FileNotFoundError:
        return []
    return [
        int(stem)
        for stem, ext in map(os.path.splitext, names)
        if ext == ".json" and stem.isdigit()
    ]


def records(root: str) -> list[dict]:
    """Every published record under ``root``, oldest first, each with its
    ``generation`` added."""
    log = _log_dir(root)
    out = []
    for gen in sorted(_generations(log)):
        with open(os.path.join(log, f"{gen}.json")) as f:
            out.append({**json.load(f), "generation": gen})
    return out


def append(root: str, record: dict) -> int:
    """Publish ``record`` (JSON-serializable) as the next generation and
    return that generation. A ``committed_at`` epoch-seconds stamp is
    added."""
    log = _log_dir(root)
    os.makedirs(log, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=log, prefix=".", suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump({**record, "committed_at": time.time()}, f, sort_keys=True)
            f.flush()
            os.fsync(f.fileno())
        gen = max(_generations(log), default=0) + 1
        while True:
            try:
                os.link(tmp, os.path.join(log, f"{gen}.json"))
                break
            except FileExistsError:  # another writer took it first
                gen += 1
        dfd = os.open(log, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)
    finally:
        os.unlink(tmp)
    return gen


def reset(root: str) -> None:
    """Drop every record: the next ``append`` is generation 1."""
    shutil.rmtree(_log_dir(root), ignore_errors=True)
