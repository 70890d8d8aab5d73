"""Byte-pair-encoding tokenizer with a COMMITTED merges table — model-real
token budgets for chunking / packing / decontamination.

The engine's shared ``tokens()`` splitter (functions/texthash.py) counts
whitespace words; real training budgets are measured in subword tokens of
a fixed vocabulary. This module implements the classic BPE algorithm
(Sennrich et al. 2016, the GPT-2-style merges-table form): a word is split
to characters plus an end-of-word marker, then merge rules are applied in
rank order until none match. The merges table is LEARNED ONCE on the
driver (``train_bpe`` — deterministic greedy pair counting with total-order
tie-breaking), committed as a parquet fixture, and APPLIED at corpus scale
as an Arrow-batched UDF over a broadcast rank dict with a per-word cache
(web text repeats words heavily, so the cache hit rate dominates).

Scale shape: encoding is a stateless narrow map — zero shuffle; the
merges table is O(n_merges) and broadcasts; the per-executor word cache
is bounded (LRU). Reference analog: the reference compiles its schema
once and reuses it per file (src/validator.rs:176-214) — here the
compiled artifact is the merge-rank dict.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np  # noqa: F401  (repo rule: pandas-UDF modules import at top)
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from validate_xml_rust_spark.session import local_frame

EOW = "</w>"  # end-of-word marker (Sennrich-style word-internal BPE)


def train_bpe(
    word_counts: dict[str, int], n_merges: int = 300
) -> list[tuple[str, str]]:
    """Learn a merges table from word frequencies — the classic greedy
    loop: count adjacent symbol pairs weighted by word frequency, merge
    the most frequent pair everywhere, repeat. Ties break on the pair
    itself (total order), so training is deterministic for a given corpus
    regardless of dict iteration order."""
    vocab: dict[tuple[str, ...], int] = {}
    for w, c in word_counts.items():
        if not w:
            continue
        vocab[tuple(list(w) + [EOW])] = vocab.get(tuple(list(w) + [EOW]), 0) + c
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for sym, c in vocab.items():
            for a, b in zip(sym, sym[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + c
        if not pairs:
            break
        best = max(pairs.items(), key=lambda kv: (kv[1], kv[0]))[0]
        merges.append(best)
        merged = best[0] + best[1]
        new_vocab: dict[tuple[str, ...], int] = {}
        for sym, c in vocab.items():
            out, i = [], 0
            while i < len(sym):
                if (
                    i + 1 < len(sym)
                    and sym[i] == best[0]
                    and sym[i + 1] == best[1]
                ):
                    out.append(merged)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            t = tuple(out)
            new_vocab[t] = new_vocab.get(t, 0) + c
        vocab = new_vocab
    return merges


class Bpe:
    """Compiled BPE encoder: merge-rank dict + cached per-word encode.

    ``encode(word)`` returns the subword pieces (last piece carries the
    ``</w>`` marker), applying the LOWEST-rank applicable merge first —
    the standard decode-order invariant that makes encoding independent
    of scan order."""

    def __init__(self, merges: list[tuple[str, str]]) -> None:
        self.merges = list(merges)
        self.ranks = {tuple(m): r for r, m in enumerate(self.merges)}
        # per-instance cache: one encoder per (fixture) vocabulary
        self._encode = lru_cache(maxsize=1 << 16)(self._encode_uncached)

    def _encode_uncached(self, word: str) -> tuple[str, ...]:
        if not word:
            return ()
        sym = list(word) + [EOW]
        ranks = self.ranks
        while len(sym) > 1:
            best_rank, best_i = None, -1
            for i in range(len(sym) - 1):
                r = ranks.get((sym[i], sym[i + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best_rank, best_i = r, i
            if best_rank is None:
                break
            # merge EVERY occurrence of the chosen pair (same rule as
            # training), left to right
            a, b = sym[best_i], sym[best_i + 1]
            out, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            sym = out
        return tuple(sym)

    def encode(self, word: str) -> list[str]:
        return list(self._encode(word))

    def decode_pieces(self, pieces: list[str]) -> str:
        """Inverse of encoding a token stream: concatenate pieces and turn
        end-of-word markers back into single spaces."""
        return "".join(pieces).replace(EOW, " ").strip()

    def to_df(self, spark):
        return local_frame(spark, "rank long, left string, right string", {
            "rank": list(range(len(self.merges))),
            "left": [a for a, _ in self.merges],
            "right": [b for _, b in self.merges],
        })

    @classmethod
    def from_df(cls, df) -> "Bpe":
        rows = df.select("rank", "left", "right").collect()
        rows.sort(key=lambda r: r["rank"])
        return cls([(r["left"], r["right"]) for r in rows])

    @classmethod
    def load(cls, spark, path: str) -> "Bpe":
        return cls.from_df(spark.read.parquet(path))


# Per-worker-process encoder registry: a Bpe instance is NOT picklable
# (the lru_cache wrapper isn't), so UDF closures ship only the merges
# tuple and each executor worker builds its encoder ONCE, here — the
# word cache then survives across Arrow batches for the life of the
# Python worker instead of resetting every ~10k rows.
_WORKER_ENCODERS: dict = {}


def _worker_bpe(merges_key: tuple) -> Bpe:
    b = _WORKER_ENCODERS.get(merges_key)
    if b is None:
        b = Bpe(list(merges_key))
        _WORKER_ENCODERS[merges_key] = b
    return b


def default_bpe(spark) -> Bpe:
    """The committed-fixture vocabulary (trained on the deterministic
    synthetic corpus by tools/make_fixtures.py)."""
    from pathlib import Path

    p = Path(__file__).resolve().parents[2] / "fixtures" / "bpe_merges.parquet"
    return Bpe.load(spark, str(p))


def bpe_tokens(text: Column, bpe: Bpe) -> Column:
    """Subword token stream for a document (array<string>): the engine's
    shared word tokenizer, then per-word BPE pieces flattened in order.
    Arrow-batched; the merges tuple rides the UDF closure and each worker
    process compiles its encoder ONCE (module registry), so the per-word
    cache persists across Arrow batches and amortizes repeated web
    vocabulary."""
    from validate_xml_rust_spark.functions.texthash import tokens

    merges_key = tuple((a, b) for a, b in bpe.merges)

    @F.pandas_udf("array<string>")
    def enc(batch: pd.Series) -> pd.Series:
        b = _worker_bpe(merges_key)  # one per worker process, cache persists
        out = []
        for words in batch:
            if words is None or len(words) == 0:
                out.append([])
                continue
            pieces: list[str] = []
            for w in words:
                pieces.extend(b.encode(w))
            out.append(pieces)
        return pd.Series(out)

    return enc(tokens(text))


def bpe_token_count(text: Column, bpe: Bpe) -> Column:
    """Model-real token count per document (int) — the budget column for
    ``pack_sequences`` / chunk sizing."""
    from validate_xml_rust_spark.functions.texthash import tokens

    merges_key = tuple((a, b) for a, b in bpe.merges)

    @F.pandas_udf("int")
    def cnt(batch: pd.Series) -> pd.Series:
        b = _worker_bpe(merges_key)
        out = []
        for words in batch:
            if words is None or len(words) == 0:
                out.append(0)
                continue
            out.append(sum(len(b.encode(w)) for w in words))
        return pd.Series(out, dtype="int32")

    return cnt(tokens(text))


def bpe_token_hashes(text: Column, bpe: Bpe) -> Column:
    """xxhash64 over each subword piece (array<long>) — the BPE-domain
    analog of texthash.token_hashes, feeding the shingle/gram machinery
    (decontamination in model-token space). The hash itself runs JVM-side
    on the UDF's string output, keeping the Python stage to the encode."""
    return F.transform(bpe_tokens(text, bpe), lambda t: F.xxhash64(t))
