"""Uniqueness / duplicate-key detection with explicit skew salting
(SURVEY.md §2.4 A10; north_rule: "uniqueness via salted hash-partitioned
groupBy").

Web-scale url/url-host keys are pathologically Zipf-skewed; a single
``groupBy(key)`` puts every hot key's rows in one reducer. The salted
two-phase aggregation bounds any single task:

  phase 1: groupBy(key, xxhash64(row-identity) % n_salts).count()
           — partial counts, each salt bucket ≤ 1/n_salts of the hot key
  phase 2: groupBy(key).sum(partial) — tiny input (≤ n_salts rows per key)

Both phases are ``skew.salted_agg``'s count. AQE coalesces the (many,
small) phase-2 partitions. Note AQE's skew-join
splitting does NOT salt aggregations — this operator is why the engine
salts by hand (SURVEY.md §4).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from validate_xml_rust_spark.colcache import per_context
from validate_xml_rust_spark.operators.skew import salted_agg

# two independent 64-bit key hashes (JVM-side xxhash64) seed the k Bloom
# probe positions via double hashing: idx_i = h1 + i*h2 (mod m)
_BLOOM_SEED = 101
_BLOOM_SCHEMA = "seen binary, dup binary, n long"


def _bit_positions(h1: np.ndarray, h2: np.ndarray, n_hashes: int, m: int) -> np.ndarray:
    """(n, k) bit indices, double hashing in uint64, m a power of two."""
    a = h1.astype(np.uint64).reshape(-1, 1)
    b = h2.astype(np.uint64).reshape(-1, 1)
    i = np.arange(n_hashes, dtype=np.uint64).reshape(1, -1)
    return ((a + i * b) & np.uint64(m - 1)).astype(np.int64)


def _member(bits: np.ndarray, pos: np.ndarray) -> np.ndarray:
    """Row-wise all-k-bits-set membership test against a packed bit array."""
    got = (bits[pos >> 3] & (1 << (pos & 7)).astype(np.uint8)) != 0
    return got.all(axis=1)


def _set_bits(bits: np.ndarray, pos: np.ndarray) -> None:
    flat = pos.reshape(-1)
    np.bitwise_or.at(bits, flat >> 3, (1 << (flat & 7)).astype(np.uint8))


def bloom_suspects(
    df: DataFrame,
    keys: list[str],
    bloom_bits: int = 1 << 20,
    n_hashes: int = 4,
    stats: dict | None = None,
) -> DataFrame:
    """Rows whose key MIGHT appear more than once — a guaranteed SUPERSET
    of the truly-duplicated rows (Bloom filters have no false negatives),
    so an exact groupBy over the survivors yields the exact dup set while
    shuffling only the suspected fraction.

    Two passes, no key shuffle:

    1. per partition (one ``mapInPandas`` row out): a packed ``seen`` bit
       array of the partition's keys plus a ``dup`` bit array of keys
       already seen WITHIN the partition (batch-incremental, including
       intra-batch repeats via exact (h1,h2) collisions);
    2. an executor-side tree-reduce over the O(partitions) bloom rows —
       the combine ``(s₁|s₂, d₁|d₂|(s₁&s₂))`` is associative and
       commutative, so cross-partition suspects (bit set in ≥2 partition
       blooms — an over-approximation: extra false positives, never
       negatives) merge in a tree and only the final 2·m/8 bytes reach
       the driver; the merged suspect bloom broadcasts and a vectorized
       probe filters the corpus.

    This turns the full-corpus key shuffle (SCALE.md §3's 24 TB at url
    grain) into a shuffle of the suspected keys only — for low-dup corpora
    a few percent plus the false-positive rate. Honest sizing: the
    cross-partition fold tests "bit set in ≥2 partition blooms", so
    ``bloom_bits`` must scale with TOTAL distinct keys (≈16 bits per key
    keeps the fold's per-bit collision rate ≈0.25 and the 4-hash FP rate
    ≈4e-7); practical to ~10^10 keys, beyond which shard the bloom by
    key-hash range (SCALE.md §3).

    Diagnostics (opt-in ``stats`` dict): ``total_rows`` rides the bloom
    build's tree-reduce for free; ``suspected_rows`` costs ONE extra probe
    pass over the scan (the only stats-induced action — exact selectivity
    cannot be known without probing).

    Broadcast lifetime: the suspect-bloom Broadcast handle rides on the
    returned frame as ``_bloom_broadcast`` (and in
    ``stats['bloom_broadcast']`` when a dict is passed) — the frame
    re-probes it on every action, so a caller done with the frame may
    ``unpersist()`` it eagerly; otherwise Spark's ContextCleaner reclaims
    the m/8-byte executor block once the frame's UDF closure (the last
    driver reference) is garbage-collected."""
    if bloom_bits & (bloom_bits - 1):
        raise ValueError("bloom_bits must be a power of two")
    key_cols = [F.col(k) for k in keys]
    hashed = df.select(
        F.xxhash64(*key_cols).alias("__h1"),
        F.xxhash64(*key_cols, F.lit(_BLOOM_SEED)).alias("__h2"),
    )
    m, k = bloom_bits, n_hashes

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        seen = np.zeros(m >> 3, dtype=np.uint8)
        dup = np.zeros(m >> 3, dtype=np.uint8)
        n_rows = 0
        for pdf in batches:
            if not len(pdf):
                continue
            n_rows += len(pdf)
            h1 = pdf["__h1"].to_numpy(dtype=np.int64)
            h2 = pdf["__h2"].to_numpy(dtype=np.int64)
            pos = _bit_positions(h1, h2, k, m)
            before = _member(seen, pos)
            # intra-batch repeats: identical (h1, h2) pairs. reshape(-1):
            # numpy 2.0.x returns a (n,1) inverse from axis-unique (2.1
            # reverted it) — flatten so the mask stays 1-D everywhere
            pairs = np.stack([h1, h2], axis=1)
            _, inv, cnt = np.unique(
                pairs, axis=0, return_inverse=True, return_counts=True
            )
            repeats = cnt[inv.reshape(-1)] > 1
            _set_bits(dup, pos[before | repeats])
            _set_bits(seen, pos)
        if n_rows:
            yield pd.DataFrame(
                {"seen": [seen.tobytes()], "dup": [dup.tobytes()], "n": [n_rows]}
            )

    def combine(a: tuple, b: tuple) -> tuple:
        sa = np.frombuffer(a[0], dtype=np.uint8)
        da = np.frombuffer(a[1], dtype=np.uint8)
        sb = np.frombuffer(b[0], dtype=np.uint8)
        db = np.frombuffer(b[1], dtype=np.uint8)
        return ((sa | sb).tobytes(), (da | db | (sa & sb)).tobytes(), a[2] + b[2])

    bloom_rows = hashed.mapInPandas(build, _BLOOM_SCHEMA).rdd.map(
        lambda r: (bytes(r["seen"]), bytes(r["dup"]), int(r["n"]))
    )
    # no isEmpty() pre-probe (it would compute the first partition's whole
    # bloom build, then treeReduce recomputes it); no treeAggregate either
    # (its zeroValue ships 2·m/8 zero bytes into every task) — reduce and
    # catch the only-empty-input error instead.
    try:
        _, dup_bytes, total_rows = bloom_rows.treeReduce(combine, depth=2)
        merged = np.frombuffer(dup_bytes, dtype=np.uint8)
    except ValueError:  # "Cannot reduce() empty RDD": df had no rows
        merged = np.zeros(m >> 3, dtype=np.uint8)
        total_rows = 0
    bc = df.sparkSession.sparkContext.broadcast(merged.tobytes())

    @F.pandas_udf("boolean")
    def probe(h1: pd.Series, h2: pd.Series) -> pd.Series:
        bits = np.frombuffer(bc.value, dtype=np.uint8)
        pos = _bit_positions(
            h1.to_numpy(dtype=np.int64), h2.to_numpy(dtype=np.int64), k, m
        )
        return pd.Series(_member(bits, pos))

    out = df.filter(
        probe(
            F.xxhash64(*key_cols), F.xxhash64(*key_cols, F.lit(_BLOOM_SEED))
        )
    )
    if stats is not None:
        # total_rows came off the build's own tree-reduce (no extra scan);
        # the suspected count is the one stats-only action (a probe pass)
        stats["total_rows"] = total_rows
        stats["suspected_rows"] = out.count()
        stats["bloom_broadcast"] = bc
    # the handle rides on the frame too, so EVERY caller (not just stats
    # users) can release it; when neither does, Spark's ContextCleaner
    # reclaims the executor blocks once the frame (whose UDF closure holds
    # the last driver reference) is garbage-collected
    out._bloom_broadcast = bc
    return out


def duplicate_keys(
    df: DataFrame,
    keys: list[str],
    n_salts: int = 16,
    salted: bool = True,
    bloom: bool = False,
    bloom_bits: int = 1 << 20,
    stats: dict | None = None,
) -> DataFrame:
    """Keys appearing more than once. Output: ``*keys, n_dup``.

    ``salted=False`` gives the naive single-shuffle plan (for plan/bench
    comparison in tests). ``bloom=True`` prepends the Bloom suspected-key
    pre-pass (``bloom_suspects``): only rows whose key might repeat reach
    the groupBy shuffle — same exact result (the pre-pass is a guaranteed
    superset), a fraction of the shuffle bytes on low-dup corpora."""
    bloom_bc = None
    if bloom:
        df = bloom_suspects(df, keys, bloom_bits=bloom_bits, stats=stats)
        bloom_bc = df._bloom_broadcast
    cols = _dup_columns()
    if salted:
        counts = salted_agg(df, keys, [("count", None, "n_dup")], n_salts)
    else:
        counts = df.groupBy(*keys).agg(cols["count"])
    out = counts.filter(cols["dup"])
    if bloom_bc is not None:
        # carry the suspect-bloom Broadcast handle (see bloom_suspects
        # docstring: eager release is the caller's option, ContextCleaner
        # is the backstop)
        out._bloom_broadcast = bloom_bc
    return out


def uniqueness_violations(
    df: DataFrame,
    keys: list[str],
    constraint_id: str = "unique",
    n_salts: int = 16,
    broadcast: bool = True,
    id_col: str = "url",
) -> DataFrame:
    """Violation rows in the engine contract ``(url, constraint_id,
    observed_value)`` for duplicated keys (``id_col`` names the row
    identifier column; it lands in the contract's ``url`` slot). Null
    keys are not duplicates (SQL UNIQUE semantics — handled by
    ``not_null`` separately).

    ``broadcast=False`` for corpora where the duplicate-key set itself can
    exceed the broadcast ceiling (e.g. a crawl where most urls repeat):
    falls back to a shuffle join on the uniform key hash."""
    cols = _violation_columns(tuple(keys), constraint_id, id_col)
    nn = df
    for not_null in cols["not_null"]:
        nn = nn.filter(not_null)
    dups = duplicate_keys(nn, keys, n_salts=n_salts)
    # Join back to recover the id of each offending row. The dup set is
    # usually tiny vs the table → broadcast it (escape hatch above).
    joined = nn.join(F.broadcast(dups) if broadcast else dups, on=keys, how="inner")
    return joined.select(*cols["out"])


@per_context
def _dup_columns() -> dict:
    return {
        "count": F.count(F.lit(1)).alias("n_dup"),
        "dup": F.col("n_dup") > 1,
    }


@per_context
def _violation_columns(keys: tuple, constraint_id: str, id_col: str) -> dict:
    return {
        "not_null": tuple(F.col(k).isNotNull() for k in keys),
        "out": (
            F.col(id_col).cast("string").alias("url"),
            F.lit(constraint_id).alias("constraint_id"),
            F.concat_ws("|", *[F.col(k).cast("string") for k in keys]).alias(
                "observed_value"
            ),
            F.concat(
                F.lit("duplicate key (n="), F.col("n_dup").cast("string"), F.lit(")")
            ).alias("message"),
        ),
    }
