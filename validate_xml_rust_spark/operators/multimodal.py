"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed via Arrow-batched ``mapInPandas``.

The decode step itself is STUBBED (no image/audio libs in this container):
``decode_image`` raises ``NotImplementedError`` unless
``fake_decoder=True``, which substitutes a deterministic hash-derived
feature vector so the Spark-side plumbing — schema, batch iteration,
partition sizing, UDF signature — is real and testable end-to-end.

Schema contract for a media table::

    media(id: long, kind: string in {image,audio,video},
          payload: binary, meta: struct<width:int, height:int,
          sample_rate:int, n_frames:int, mime:string>)

Scale notes: binary payloads dominate partition size — the reader should
set ``spark.sql.files.maxPartitionBytes`` so one Arrow batch of payloads
fits comfortably in executor memory; ``mapInPandas`` streams batches, so
per-row peak memory is one batch, not one partition.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "id long, kind string, payload binary, "
    "meta struct<width:int, height:int, sample_rate:int, n_frames:int, mime:string>"
)

FEATURE_DIM = 16


def synthetic_media(spark: SparkSession, n_rows: int, n_partitions: int = 4) -> DataFrame:
    """Deterministic fake media table (payload = seeded bytes)."""
    df = spark.range(0, n_rows, 1, n_partitions)
    i = F.col("id")
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.pmod(F.xxhash64(i, F.lit(3)), F.lit(3)) + 1).cast("int"),
    )
    payload = F.encode(
        F.concat(F.lit("MEDIA:"), i.cast("string"), F.lit(":"), F.repeat(F.lit("ab"), 64)),
        "UTF-8",
    )
    meta = F.struct(
        F.when(kind == "image", (F.pmod(i, F.lit(8)) * 100 + 100).cast("int")).alias("width"),
        F.when(kind == "image", (F.pmod(i, F.lit(6)) * 100 + 100).cast("int")).alias("height"),
        F.when(kind == "audio", F.lit(16000)).cast("int").alias("sample_rate"),
        F.when(kind == "video", (F.pmod(i, F.lit(100)) + 1).cast("int")).alias("n_frames"),
        F.concat(kind, F.lit("/fake")).alias("mime"),
    )
    return df.select(i.alias("id"), kind.alias("kind"), payload.alias("payload"), meta.alias("meta"))


def _fake_features(payload: bytes, dim: int = FEATURE_DIM) -> list[float]:
    """Deterministic stand-in for a real decoder+featurizer: sha256 bytes
    mapped to [0, 1) floats. Stable across runs/machines."""
    h = hashlib.sha256(payload).digest()
    return [h[i % len(h)] / 256.0 for i in range(dim)]


def decode_image(payload: bytes) -> "np.ndarray":
    """STUB: real image decode needs PIL/libvips — not in this container.

    A production build plugs the real decoder in here; everything around
    it (batching, schema, partitioning) is already exercised by the fake
    path."""
    raise NotImplementedError(
        "image decoding requires an image library not present in this "
        "environment; use extract_features(fake_decoder=True) for plumbing"
    )


def extract_features(
    df: DataFrame, fake_decoder: bool = True, dim: int = FEATURE_DIM
) -> DataFrame:
    """media → (id, kind, features array<double>, payload_bytes long).

    ``mapInPandas``: Arrow batch iterator in/out, never per-row Python
    round-trips through the JVM. The per-batch loop is numpy/hashlib."""
    out_schema = f"id long, kind string, features array<double>, payload_bytes long"

    def one(p, decoder):
        # error containment (X9): a corrupt payload yields a null feature
        # row, never a task failure — mirroring the reference's per-item
        # error verdicts (src/validator.rs:699-730)
        try:
            return decoder(bytes(p), dim) if decoder is _fake_features else decoder(bytes(p))
        except NotImplementedError:
            raise  # stubbed real decoder: surface loudly, by design
        except Exception:
            return None

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        decoder = _fake_features if fake_decoder else decode_image
        for pdf in batches:
            feats = [None if p is None else one(p, decoder) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "kind": pdf["kind"],
                    "features": feats,
                    "payload_bytes": pdf["payload"].map(
                        lambda p: 0 if p is None else len(p)
                    ),
                }
            )

    return df.mapInPandas(fn, out_schema)
