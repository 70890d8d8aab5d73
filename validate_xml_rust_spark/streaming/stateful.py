"""Custom stateful streaming operator: cross-batch first-seen URL dedup via
``applyInPandasWithState``.

The batch engine dedups within a dataset (operators/dedup.py); a streaming
ingest needs dedup ACROSS micro-batches — "have I ever seen this url (or
content fingerprint)?" — which is exactly Structured Streaming's
keyed-state surface (``applyInPandasWithState``, the custom-stateful-
operator slot mentioned in SURVEY.md §2.7's forward plan).

State model: key = the dedup key (url or fingerprint); state = (first_seen
epoch, n_seen). Output: one row per incoming record tagged ``is_duplicate``
— first occurrence False, every later occurrence (same or later batch)
True. State TTL is handled by the timeout conf when running continuous;
``availableNow`` drains everything.

At cluster scale the state store shards by key hash across executors
(RocksDB state backend recommended: ``spark.sql.streaming.stateStore
.providerClass=...RocksDBStateStoreProvider``) — the operator itself is
backend-agnostic.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "key string, url string, is_duplicate boolean, n_seen_before long"
STATE_SCHEMA = "n_seen long"

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("partition_id", T.IntegerType()),
    ]
)


def _dedup_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (k,) = key
    n_seen = state.get[0] if state.exists else 0
    out = []
    for pdf in pdfs:
        for url in pdf["url"]:
            out.append((k, url, n_seen > 0, n_seen))
            n_seen += 1
    state.update((n_seen,))
    yield pd.DataFrame(out, columns=["key", "url", "is_duplicate", "n_seen_before"])


def streaming_first_seen_dedup(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    key_expr: str = "url",
    schema: T.StructType | None = None,
    max_files_per_trigger: int | None = None,
) -> "DataFrame":
    """Build the stateful streaming dedup over a file-source stream;
    returns the streaming DataFrame (attach a sink + availableNow trigger;
    tests use the memory sink). Re-running with the same checkpoint keeps
    the state store, so duplicates are detected across RUNS too.
    ``max_files_per_trigger=1`` replays one arrival file per micro-batch
    (file order = modification time, oldest first) — the deterministic
    replay mode the first-seen gate query uses."""
    reader = spark.readStream.schema(schema or PAGES_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(input_dir)
    keyed = stream.select(
        F.expr(key_expr).cast("string").alias("key"), F.col("url")
    ).filter(F.col("key").isNotNull())
    return keyed.groupBy("key").applyInPandasWithState(
        _dedup_fn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


NEARDUP_OUTPUT_SCHEMA = (
    "band_key long, id_new long, id_seen long, est_jaccard double"
)
NEARDUP_STATE_SCHEMA = "ids array<long>, sigs array<binary>"


def _near_dedup_fn(num_perm: int, threshold: float, max_state: int):
    """Stateful near-dup matcher for one LSH band bucket: state holds the
    (id, MinHash signature) of every doc previously seen in this bucket;
    each arriving doc is compared against them (signature-agreement
    fraction is an unbiased Jaccard estimate) and appended. ``max_state``
    caps degenerate buckets, mirroring the batch path's max_bucket."""
    import numpy as np

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        (band_key,) = key
        if state.exists:
            ids, sigs = list(state.get[0]), [
                np.frombuffer(b, dtype=np.int64) for b in state.get[1]
            ]
        else:
            ids, sigs = [], []
        out = []
        for pdf in pdfs:
            for doc_id, sig_list in zip(pdf["id"], pdf["sig"]):
                sig = np.asarray(sig_list, dtype=np.int64)
                for seen_id, seen_sig in zip(ids, sigs):
                    est = float((sig == seen_sig).mean())
                    if est >= threshold:
                        out.append((band_key, int(doc_id), int(seen_id), round(est, 6)))
                if len(ids) < max_state:
                    ids.append(int(doc_id))
                    sigs.append(sig)
        state.update((ids, [s.tobytes() for s in sigs]))
        yield pd.DataFrame(
            out, columns=["band_key", "id_new", "id_seen", "est_jaccard"]
        )

    return fn


def streaming_near_dedup(
    spark: SparkSession,
    input_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_state: int = 200,
    schema: T.StructType | None = None,
    max_files_per_trigger: int | None = None,
) -> "DataFrame":
    """Cross-batch NEAR-duplicate detection: streaming MinHash + LSH with
    per-band-bucket keyed state (applyInPandasWithState). Each doc's
    signature is computed in-stream (Arrow UDF), exploded into band keys;
    a band bucket's state accumulates the docs ever seen there, and every
    arrival is matched against them with the signature-agreement Jaccard
    estimate. A doc arriving in batch 7 is caught against its near-dup
    from batch 1 — the thing the batch operator cannot do incrementally.

    The same pair can surface from several bands — dedupe downstream with
    ``.dropDuplicates(['id_new','id_seen'])`` on the sink side (state is
    per-band by design: bucket-sharded, bounded, mergeable). At cluster
    scale the state store shards by band key (uniform hash — no skew),
    RocksDB backend recommended; ``max_state`` bounds degenerate buckets
    exactly like the batch path's ``max_bucket``."""
    from validate_xml_rust_spark.functions.texthash import (
        lsh_band_keys,
        minhash_signature_from_text,
    )

    if schema is None:
        schema = T.StructType(
            [
                T.StructField(id_col, T.LongType()),
                T.StructField(text_col, T.StringType()),
            ]
        )
    rows_per_band = num_perm // bands
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(input_dir)
    sig = stream.select(
        F.col(id_col).alias("id"),
        minhash_signature_from_text(F.col(text_col), shingle_k, num_perm).alias("sig"),
    )
    banded = sig.select(
        "id",
        "sig",
        F.explode(lsh_band_keys(F.col("sig"), bands, rows_per_band)).alias("b"),
    ).select("id", "sig", F.col("b.key").alias("band_key"))
    return banded.groupBy("band_key").applyInPandasWithState(
        _near_dedup_fn(num_perm, threshold, max_state),
        outputStructType=NEARDUP_OUTPUT_SCHEMA,
        stateStructType=NEARDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


@contextmanager
def pinned_state_partitions(
    spark: SparkSession, n: int | None = None
) -> Iterator[None]:
    """Pin ``spark.sql.shuffle.partitions`` to ``n`` (default
    ``$VXRS_STREAM_STATE_PARTITIONS``, else 8) for a stream started and
    drained inside the block, then restore it — a NEW checkpoint bakes
    this in as the state-store shard count. Every micro-batch commits
    one state-store delta PER PARTITION, so a replay-style drain
    (AvailableNow, a handful of triggers, bounded rows) at the session
    default (= core count) pays 5-10x the state-commit/file I/O the data
    needs; results are partition-invariant (keyed state — the shard only
    decides WHERE a key lives). Production streams with large keyed
    state raise the env knob (2-3x cores, the usual shuffle-partition
    sizing) — the value is a deployment knob, not a semantics knob. An
    EXISTING checkpoint keeps whatever count it was created with
    (Structured Streaming ignores the conf then), so resumed streams are
    unaffected."""
    if n is None:
        n = int(os.environ.get("VXRS_STREAM_STATE_PARTITIONS", "8"))
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def run_available_now(
    sdf: "DataFrame",
    checkpoint_dir: str,
    output_dir: str,
    state_partitions: int | None = None,
) -> None:
    """Drain the stream synchronously into an append parquet sink (the
    memory sink cannot recover from a checkpoint, so cross-RUN state
    continuity requires a recoverable sink), with ``state_partitions``
    state-store shards (``pinned_state_partitions``)."""
    with pinned_state_partitions(sdf.sparkSession, state_partitions):
        q = (
            sdf.writeStream.outputMode("append")
            .format("parquet")
            .option("path", output_dir)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
