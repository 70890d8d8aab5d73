"""Python-side md5 gram bucketing — the one owner of the gram → bucket
hash on the Python side of the engine.

A gram ``g`` falls into bucket ``int(md5(f"{seed}:{g}")[:8], 16) %
n_buckets``: the first 8 hex chars of the md5 of the seeded UTF-8 gram,
the same arithmetic ``curation.sample_ticket`` gives Spark and the DuckDB
oracle, so every Arrow pass here buckets byte-identically to the
exploded expression paths (``textstats._char_gram_buckets``,
``curation._dsir_gram_buckets``, ``drift.vocab_bucket_counts``) that the
parity tests keep as references.

- ``bucket_ids`` — a document's whole gram list → bucket ids in one call,
  md5 once per DISTINCT gram per Python worker (memoized);
- ``char_grams`` / ``word_grams`` (over ``word_tokens``) — the two gram
  extractors the operators use;
- ``gram_bucket_counts`` — ONE ``mapInPandas`` pass emitting per-task
  partial ``(key, bucket, count)`` rows plus the exact integer
  ``groupBy().sum()`` over them.

Text preparation (lower / trim / coalesce) stays with each caller and
stays JVM-side: Spark ``lower()`` semantics are what the oracle restates,
and Python slicing and Spark ``substr`` both index code points.
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter
from typing import Callable

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Per-(seed, n_buckets) gram → bucket memo, shared across tasks in a
# reused Python worker (the module is importable, so worker reuse keeps
# the global); size-capped defensively.
_MEMOS: dict = {}
_MEMO_MAX = 1 << 21

_SPLIT = re.compile(r"[^a-z0-9]+")


def bucket_ids(grams: list, seed: str, n_buckets: int) -> list:
    """Bucket id of every gram in ``grams``, in order (multiplicity
    kept)."""
    memo = _MEMOS.get((seed, n_buckets))
    if memo is None:
        memo = _MEMOS[(seed, n_buckets)] = {}
    out = []
    for g in grams:
        b = memo.get(g)
        if b is None:
            b = (
                int(hashlib.md5(f"{seed}:{g}".encode("utf-8")).hexdigest()[:8], 16)
                % n_buckets
            )
            if len(memo) < _MEMO_MAX:
                memo[g] = b
        out.append(b)
    return out


def char_grams(text: str, ns: tuple) -> list:
    """Every char n-gram occurrence of ``text`` for each n in ``ns`` —
    the Python twin of ``substr(t, p, n)`` over all in-range positions."""
    return [text[i : i + n] for n in ns for i in range(len(text) - n + 1)]


def word_tokens(text: str) -> list:
    """Python twin of ``texthash.tokens()`` over ALREADY lowered+trimmed
    text: split on [^a-z0-9]+ (ASCII classes — identical in Java and
    Python regex), drop empties."""
    return [w for w in _SPLIT.split(text) if w]


def word_grams(text: str, bigrams: bool) -> list:
    """Word unigrams of ``text``, then (with ``bigrams``) the positional
    ``"w1 w2"`` bigrams — ``_dsir_gram_buckets``' bag order."""
    toks = word_tokens(text)
    if not bigrams:
        return toks
    return toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]


def gram_bucket_counts(
    df: DataFrame,
    text: Column,
    grams: Callable[[str], list],
    n_buckets: int,
    seed: str,
    key: Column | None = None,
) -> DataFrame:
    """``(__k, b long, __c long)`` — occurrence count of every gram bucket
    of ``grams(text)`` per ``key`` value (``(b, __c)`` without a key); the
    Arrow twin of exploding the grams and counting ``groupBy(key, b)``.

    ONE mapInPandas pass counts per task (md5 once per DISTINCT gram), so
    the shuffle carries per-(task, key, bucket) partials instead of one
    row per gram occurrence; the downstream integer sum equals the
    exploded count exactly. ``__k`` keeps the key's Spark type (NULL keys
    are counted as their own group)."""
    keyed = key is not None
    keys = ["__k"] if keyed else []
    src = df.select(*([key.alias("__k")] if keyed else []), text.alias("__t"))
    schema = "b long, __pc long"
    if keyed:
        schema = f"__k {src.schema['__k'].dataType.simpleString()}, {schema}"
    nb = int(n_buckets)

    def count_part(it):
        by_key: dict = {}
        for pdf in it:
            ks = pdf["__k"] if keyed else [None] * len(pdf)
            for k, t in zip(ks, pdf["__t"]):
                k = None if pd.isna(k) else k
                c = by_key.get(k)
                if c is None:
                    c = by_key[k] = Counter()
                c.update(bucket_ids(grams(t), seed, nb))
        out: dict = {"__k": [], "b": [], "__pc": []}
        for k, c in by_key.items():
            out["__k"].extend([k] * len(c))
            out["b"].extend(c.keys())
            out["__pc"].extend(c.values())
        if out["b"]:
            if not keyed:
                del out["__k"]
            yield pd.DataFrame(out)

    return (
        src.mapInPandas(count_part, schema)
        .groupBy(*keys, "b")
        .agg(F.sum("__pc").alias("__c"))
    )
