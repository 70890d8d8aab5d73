"""Tokenization / shingling / hashing primitives shared by the dedup,
similarity, and text-analysis operators.

All pure Column expressions (JVM-side, codegen): tokenize → shingle →
xxhash64. The only "randomness" is seeded hash mixing, so every signature
is deterministic across runs, partitionings, and cluster sizes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from validate_xml_rust_spark.colcache import per_context


def tokens(text: Column) -> Column:
    """Lowercased word tokens; empty array for null/empty text."""
    # No token contains a space: lm_perplexity's w1 recovery
    # (_bigram_strings) and the grambuckets.word_tokens twin depend on it.
    t = F.split(F.lower(F.trim(F.coalesce(text, F.lit("")))), r"[^a-z0-9]+")
    return F.filter(t, lambda x: F.length(x) > 0)


def shingles(text: Column, k: int = 3) -> Column:
    """Word k-gram shingles (distinct) — the Jaccard universe for MinHash."""
    w = tokens(text)
    n = F.size(w)
    idx = F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(0)))
    sh = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(w, i, k)))
    # a doc shorter than k words contributes its whole text as one shingle
    return F.array_distinct(
        F.when(n >= k, sh).otherwise(F.array(F.concat_ws(" ", w)))
    )


def token_hashes(text: Column) -> Column:
    """Per-token xxhash64 (single interpreted pass — cheap)."""
    return F.transform(tokens(text), lambda t: F.xxhash64(t))


_WINDOW_MIX = None  # lazily-built odd multipliers for window combining


def _window_multipliers(k: int) -> "np.ndarray":
    rng = np.random.default_rng(MINHASH_SEED + 7)
    return rng.integers(1, 2**63 - 1, size=k, dtype=np.uint64) * 2 + 1


def _combine_shingles(x: "np.ndarray", k: int, mult: "np.ndarray") -> "np.ndarray":
    """Vectorized k-token window combine: Σ_j h[i+j]·mult[j] (uint64 wrap),
    deduplicated — a hash-domain shingle set with the same Jaccard
    statistics as string shingles, no per-shingle string building."""
    n = len(x)
    if n == 0:
        return x
    if n < k:
        acc = np.uint64(0)
        for j in range(n):
            acc = acc + x[j] * mult[j]
        return np.array([acc], dtype=np.uint64)
    w = np.zeros(n - k + 1, dtype=np.uint64)
    for j in range(k):
        w = w + x[j : n - k + 1 + j] * mult[j]
    return np.unique(w)


def shingle_hashes_from(hashes: Column, k: int = 3) -> Column:
    """Distinct shingle hashes (array<long>) from a PRECOMPUTED token-hash
    array — the k-window combine vectorized in an Arrow-batched numpy UDF.
    Lets callers pick the token domain (whitespace words via
    ``token_hashes``, BPE subwords via ``functions.bpe.bpe_token_hashes``)
    without duplicating the combine."""
    mult = _window_multipliers(k)

    @F.pandas_udf("array<long>")
    def sh(batch: pd.Series) -> pd.Series:
        out = []
        with np.errstate(over="ignore"):
            for h in batch:
                if h is None or len(h) == 0:
                    out.append(np.empty(0, dtype=np.int64))
                    continue
                x = np.asarray(h, dtype=np.int64).astype(np.uint64)
                out.append(_combine_shingles(x, k, mult).astype(np.int64))
        return pd.Series(out)

    return sh(hashes)


@per_context
def shingle_hashes(text: Column | str, k: int = 3) -> Column:
    """Distinct shingle hashes (array<long>) — token hashes JVM-side, the
    k-window combine vectorized in an Arrow-batched numpy UDF. Built once
    per session when ``text`` is a column name."""
    if isinstance(text, str):
        text = F.col(text)
    return shingle_hashes_from(token_hashes(text), k)


def _combine_shingles_seq(x: "np.ndarray", k: int, mult: "np.ndarray") -> "np.ndarray":
    """Positional (non-deduplicated) variant of ``_combine_shingles`` —
    winnowing needs k-gram hashes in document order."""
    n = len(x)
    if n == 0:
        return x
    if n < k:
        acc = np.uint64(0)
        for j in range(n):
            acc = acc + x[j] * mult[j]
        return np.array([acc], dtype=np.uint64)
    w = np.zeros(n - k + 1, dtype=np.uint64)
    for j in range(k):
        w = w + x[j : n - k + 1 + j] * mult[j]
    return w


def winnow_fingerprints_udf(text: Column, k: int = 3, window: int = 4) -> Column:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
    MOSS algorithm): k-gram rolling hashes in document order, then the
    minimum hash of every ``window``-length run of k-grams, deduplicated.

    Guarantee: any shared token run of length ≥ window+k-1 contains a
    complete shared window in both documents, whose minimum VALUE is
    selected in both — so the docs share at least one fingerprint.
    Density: ~2/(window+1) of the k-grams survive, giving a compact,
    shuffle-friendly representation for containment/partial-overlap
    detection (where MinHash's global Jaccard washes out a short match).

    Arrow-batched numpy: one vectorized window-combine + one
    sliding-window min per row."""
    mult = _window_multipliers(k)

    @F.pandas_udf("array<long>")
    def wf(batch: pd.Series) -> pd.Series:
        from numpy.lib.stride_tricks import sliding_window_view

        out = []
        with np.errstate(over="ignore"):
            for h in batch:
                if h is None or len(h) == 0:
                    out.append(np.empty(0, dtype=np.int64))
                    continue
                x = np.asarray(h, dtype=np.int64).astype(np.uint64)
                grams = _combine_shingles_seq(x, k, mult)
                if len(grams) <= window:
                    sel = np.array([grams.min()], dtype=np.uint64)
                else:
                    sel = np.unique(
                        sliding_window_view(grams, window).min(axis=1)
                    )
                out.append(sel.astype(np.int64))
        return pd.Series(out)

    return wf(token_hashes(text))


def seq_gram_hashes(token_hash_col: Column, k: int) -> Column:
    """Positional (document-order, NON-deduplicated) k-gram hashes from a
    token-hash array — gram i covers tokens [i, i+k-1]. The exact-marking
    primitive for substring-level passage excision: occurrences must keep
    their offsets, so np.unique is wrong here. Arrow-batched numpy (same
    vectorized window combine as the winnowing path)."""
    mult = _window_multipliers(k)

    @F.pandas_udf("array<long>")
    def sg(batch: pd.Series) -> pd.Series:
        out = []
        with np.errstate(over="ignore"):
            for h in batch:
                if h is None or len(h) < k:
                    # a doc shorter than k tokens has NO complete k-gram —
                    # emit none (the <k "whole-doc pseudo-gram" of the
                    # shingle path would falsely equate equal-length short
                    # docs with full-length grams)
                    out.append(np.empty(0, dtype=np.int64))
                    continue
                x = np.asarray(h, dtype=np.int64).astype(np.uint64)
                out.append(_combine_shingles_seq(x, k, mult).astype(np.int64))
        return pd.Series(out)

    return sg(token_hash_col)


EXCISE_STRUCT = (
    "struct<clean_text:string,n_tokens_removed:int,n_spans:int,"
    "n_tokens_total:int>"
)


def excise_rebuild_udf(
    tokens_col: Column, starts_col: Column, min_run: int
) -> Column:
    """Rebuild a document from its token array minus the intervals
    ``[s, s+min_run)`` covered by the marked gram-START positions:
    ``(clean_text, n_tokens_removed, n_spans)``, n_spans = maximal
    merged runs. Arrow-batched numpy: one start/stop edge histogram +
    cumsum per row. Interval expansion happens HERE, not upstream —
    the old shape exploded min_run rows per marked gram into a
    corpus-wide collect_set (an ~min_run× bigger shuffle for the same
    information)."""
    run = int(min_run)

    @F.pandas_udf(EXCISE_STRUCT)
    def rb(toks: pd.Series, starts: pd.Series) -> pd.DataFrame:
        texts, removed, spans, totals = [], [], [], []
        for t, s in zip(toks, starts):
            words = list(t) if t is not None else []
            totals.append(len(words))
            st = (
                np.unique(np.asarray(s, dtype=np.int64))
                if s is not None and len(s)
                else np.empty(0, dtype=np.int64)
            )
            st = st[(st >= 0) & (st < len(words))]
            if not len(st):
                texts.append(" ".join(words))
                removed.append(0)
                spans.append(0)
                continue
            edges = np.zeros(len(words) + 1, dtype=np.int64)
            np.add.at(edges, st, 1)
            np.add.at(edges, np.minimum(st + run, len(words)), -1)
            covered = np.cumsum(edges[:-1]) > 0
            texts.append(
                " ".join(w for w, c in zip(words, covered) if not c)
            )
            removed.append(int(covered.sum()))
            rises = int((np.diff(covered.astype(np.int8)) == 1).sum())
            spans.append(int(covered[0]) + rises)
        return pd.DataFrame(
            {
                "clean_text": texts,
                "n_tokens_removed": removed,
                "n_spans": spans,
                "n_tokens_total": totals,
            }
        )

    return rb(tokens_col, starts_col)


INTERVAL_STRUCT = "struct<n_tokens:int,n_spans:int>"


def interval_stats_udf(starts_col: Column, min_run: int) -> Column:
    """Merged-interval statistics over SORTED marked gram-start arrays:
    ``(n_tokens, n_spans)`` for intervals ``[s, s+min_run)`` — covered
    size = Σ min(gap, min_run) + min_run, span breaks where a gap
    exceeds min_run. Pure numpy per row; needs no token array (gram
    starts are in-range by construction: pos ≤ len−min_run)."""
    run = int(min_run)

    @F.pandas_udf(INTERVAL_STRUCT)
    def stats(starts: pd.Series) -> pd.DataFrame:
        toks, spans = [], []
        for s in starts:
            if s is None or len(s) == 0:
                toks.append(0)
                spans.append(0)
                continue
            st = np.unique(np.asarray(s, dtype=np.int64))
            gaps = np.diff(st)
            toks.append(int(np.minimum(gaps, run).sum()) + run)
            spans.append(1 + int((gaps > run).sum()))
        return pd.DataFrame({"n_tokens": toks, "n_spans": spans})

    return stats(starts_col)


def gram_repetition_udf(text: Column, k: int = 2) -> Column:
    """Fraction of duplicated k-grams: 1 − distinct/total over positional
    k-gram hashes (the Gopher-style intra-document repetition signal).
    Arrow-batched numpy — a per-gram expression fold would be interpreted
    (repo rule: >~10 array ops/row → Arrow)."""
    mult = _window_multipliers(k)

    @F.pandas_udf("double")
    def rep(batch: pd.Series) -> pd.Series:
        out = np.zeros(len(batch), dtype=np.float64)
        with np.errstate(over="ignore"):
            for i, h in enumerate(batch):
                if h is None or len(h) == 0:
                    continue
                x = np.asarray(h, dtype=np.int64).astype(np.uint64)
                grams = _combine_shingles_seq(x, k, mult)
                if len(grams):
                    out[i] = 1.0 - len(np.unique(grams)) / len(grams)
        return pd.Series(np.round(out, 6))

    return rep(token_hashes(text))


NGRAM_COVERAGE_TOP_NS = (2, 3, 4)
NGRAM_COVERAGE_DUP_NS = (5, 10)
NGRAM_COVERAGE_STRUCT = (
    "struct<bigram_rep:double,"
    + ",".join(f"top{n}:double" for n in NGRAM_COVERAGE_TOP_NS)
    + ","
    + ",".join(f"dup{n}:double" for n in NGRAM_COVERAGE_DUP_NS)
    + ",dup_line_char:double,dup_para_char:double>"
)


def _dup_char_frac(hashes, lens) -> float:
    """Σ len over ALL occurrences of values appearing >1 time ÷ Σ len
    (the Gopher duplicate-line/paragraph CHARACTER fraction)."""
    if hashes is None or len(hashes) == 0:
        return 0.0
    lv = np.asarray(lens, dtype=np.int64)
    total = lv.sum()
    if total <= 0:
        return 0.0
    _, inv, cnt = np.unique(
        np.asarray(hashes, dtype=np.int64), return_inverse=True,
        return_counts=True,
    )
    return float(lv[cnt[inv] > 1].sum() / total)


def ngram_coverage_udf(
    token_hashes_col: Column,
    token_lens_col: Column,
    line_hashes_col: Column,
    line_lens_col: Column,
    para_hashes_col: Column,
    para_lens_col: Column,
) -> Column:
    """The Gopher repetition character-coverage signal set (Rae et al.
    2021, Appendix A1.1) in ONE Arrow hop over precomputed hash + char
    length arrays (tokens, non-empty lines, non-blank paragraphs):

    - ``top{n}`` (n ∈ 2,3,4) — fraction of content characters covered by
      the most frequent word n-gram: max-count gram (char-weight breaks
      count ties) × its occurrence count × its token chars ÷ total token
      chars; 0.0 when no n-gram repeats (max count < 2).
    - ``dup{n}`` (n ∈ 5,10) — fraction of content characters inside ANY
      duplicated n-gram: token positions covered by ≥1 occurrence of a
      gram appearing >1 time (start/stop edge histogram + cumsum, each
      position counted once), char-weighted.
    - ``dup_line_char`` / ``dup_para_char`` — fraction of line/paragraph
      characters on ALL occurrences of a line/paragraph value appearing
      >1 time (every occurrence counts — Gopher's "characters within
      duplicate lines/paragraphs").
    - ``bigram_rep`` — 1 − distinct/total positional bigrams (the
      pre-existing signal, folded in so the suite keeps one Python hop).

    "Content characters" = Σ len(unit) over the respective unit array —
    separators excluded on both engines, so the DuckDB oracle restates
    the exact same arithmetic over gram/line/paragraph STRINGS
    (hash-domain vs string-domain equivalence, as in the Jaccard
    oracles). Values are raw doubles; callers round."""
    ns = sorted({2, *NGRAM_COVERAGE_TOP_NS, *NGRAM_COVERAGE_DUP_NS})
    mults = {n: _window_multipliers(n) for n in ns}
    top_ns, dup_ns = NGRAM_COVERAGE_TOP_NS, NGRAM_COVERAGE_DUP_NS

    @F.pandas_udf(NGRAM_COVERAGE_STRUCT)
    def cov(
        hashes: pd.Series, lens: pd.Series,
        lhashes: pd.Series, llens: pd.Series,
        phashes: pd.Series, plens: pd.Series,
    ) -> pd.DataFrame:
        m = len(hashes)
        cols: dict[str, np.ndarray] = {
            "bigram_rep": np.zeros(m),
            **{f"top{n}": np.zeros(m) for n in top_ns},
            **{f"dup{n}": np.zeros(m) for n in dup_ns},
            "dup_line_char": np.zeros(m),
            "dup_para_char": np.zeros(m),
        }
        with np.errstate(over="ignore"):
            for i, (h, ln, lh, ll, ph, pl) in enumerate(
                zip(hashes, lens, lhashes, llens, phashes, plens)
            ):
                cols["dup_line_char"][i] = _dup_char_frac(lh, ll)
                cols["dup_para_char"][i] = _dup_char_frac(ph, pl)
                if h is None or len(h) == 0:
                    continue
                lv = np.asarray(ln, dtype=np.int64)
                total = lv.sum()
                if total <= 0:
                    continue
                x = np.asarray(h, dtype=np.int64).astype(np.uint64)
                cs = np.concatenate(([0], np.cumsum(lv)))
                for n in ns:
                    if len(x) < n:
                        continue
                    grams = _combine_shingles_seq(x, n, mults[n])
                    uniq, first, inv, cnt = np.unique(
                        grams, return_index=True, return_inverse=True,
                        return_counts=True,
                    )
                    if n == 2:
                        cols["bigram_rep"][i] = 1.0 - len(uniq) / len(grams)
                    if n in top_ns:
                        mx = cnt.max()
                        if mx >= 2:
                            gchars = cs[n:] - cs[:-n]
                            cols[f"top{n}"][i] = (
                                mx * gchars[first[cnt == mx]].max() / total
                            )
                    if n in dup_ns:
                        starts = np.nonzero(cnt[inv] > 1)[0]
                        if len(starts):
                            edges = np.zeros(len(lv) + 1, dtype=np.int64)
                            np.add.at(edges, starts, 1)
                            np.add.at(
                                edges, np.minimum(starts + n, len(lv)), -1
                            )
                            covered = np.cumsum(edges[:-1]) > 0
                            cols[f"dup{n}"][i] = lv[covered].sum() / total
        return pd.DataFrame(cols)

    return cov(
        token_hashes_col, token_lens_col,
        line_hashes_col, line_lens_col,
        para_hashes_col, para_lens_col,
    )


def minhash_signature_from_text(text: Column, k: int = 3, num_perm: int = 32) -> Column:
    """Fused shingle+MinHash in ONE Arrow round trip: token hashes JVM-side,
    then window-combine + permutation-min in numpy (one Python worker hop
    instead of two)."""
    mult = _window_multipliers(k)
    a, b = _perm_params(num_perm)

    @F.pandas_udf("array<long>")
    def mh(batch: pd.Series) -> pd.Series:
        out = []
        maxsig = np.full(num_perm, np.iinfo(np.int64).max)
        with np.errstate(over="ignore"):
            for h in batch:
                if h is None or len(h) == 0:
                    out.append(maxsig)
                    continue
                x = np.asarray(h, dtype=np.int64).astype(np.uint64)
                sh = _combine_shingles(x, k, mult)
                sig = (a[:, None] * sh[None, :] + b[:, None]).min(axis=1)
                out.append(sig.astype(np.int64))
        return pd.Series(out)

    return mh(token_hashes(text))


MINHASH_SEED = 1317


def _perm_params(num_perm: int):
    """Deterministic universal-hash parameters a·x+b (odd a) in uint64."""
    rng = np.random.default_rng(MINHASH_SEED)
    a = rng.integers(1, 2**63 - 1, size=num_perm, dtype=np.uint64) * 2 + 1
    b = rng.integers(0, 2**63 - 1, size=num_perm, dtype=np.uint64)
    return a, b


def minhash_signature(hashes: Column, num_perm: int = 32) -> Column:
    """MinHash signature via an Arrow-batched numpy UDF: for permutation p,
    min over shingle hashes of (a_p·h + b_p) in uint64 (overflow = mod 2^64
    — the standard multiply-shift permutation family).

    ~100× faster than the interpreted higher-order-function form: one
    (shingles × num_perm) uint64 broadcast-multiply per row, vectorized in
    numpy per Arrow batch. Deterministic (fixed seed, PCG64)."""
    a, b = _perm_params(num_perm)

    @F.pandas_udf("array<long>")
    def mh(batch: pd.Series) -> pd.Series:
        return pd.Series(_signatures(batch, a, b, num_perm))

    return mh(hashes)


def shingles_with_signature(hashes: Column, num_perm: int = 32) -> Column:
    """``struct<sh, sig>``: the shingle-hash set passed through beside its
    ``minhash_signature``, so a pass that keeps both evaluates the shingle
    UDF once (a signature taken in a later ``select`` re-runs it)."""
    a, b = _perm_params(num_perm)

    @F.pandas_udf("struct<sh:array<long>,sig:array<long>>")
    def mhs(batch: pd.Series) -> pd.DataFrame:
        return pd.DataFrame({"sh": batch, "sig": _signatures(batch, a, b, num_perm)})

    return mhs(hashes)


def _signatures(batch: pd.Series, a, b, num_perm: int) -> list:
    out = []
    with np.errstate(over="ignore"):
        for h in batch:
            if h is None or len(h) == 0:
                out.append(np.full(num_perm, np.iinfo(np.int64).max))
                continue
            x = np.asarray(h, dtype=np.int64).astype(np.uint64)
            # (num_perm × n) = a[:,None]*x[None,:] + b[:,None], min over n
            sig = (a[:, None] * x[None, :] + b[:, None]).min(axis=1)
            out.append(sig.astype(np.int64))
    return out


@per_context
def lsh_band_keys(signature: Column | str, bands: int, rows_per_band: int) -> Column:
    """Band the signature: hash each contiguous slice of ``rows_per_band``
    entries → array<struct<band:int, key:long>> for exploding into the
    bucket join. Two docs sharing any band key are candidates.

    Built as EXPLICIT per-band expressions (``bands`` is a plan-time
    constant): element_at/concat_ws/xxhash64 are whole-stage-codegen,
    where the old transform-over-sequence form was an interpreted HOF
    evaluating a nested transform+slice per band per row (repo rule;
    measured ~2× on the banding projection). Keys are byte-identical:
    concat_ws over the slice's elements == concat_ws over the array, and
    xxhash64(str, band) is unchanged. Built once per session when
    ``signature`` is a column name."""
    if isinstance(signature, str):
        signature = F.col(signature)
    entries = []
    for b in range(bands):
        elems = [
            F.element_at(signature, b * rows_per_band + j + 1).cast("string")
            for j in range(rows_per_band)
        ]
        entries.append(
            F.struct(
                F.lit(b).cast("int").alias("band"),
                F.xxhash64(F.concat_ws(",", *elems), F.lit(b)).alias("key"),
            )
        )
    return F.array(*entries)


def jaccard(a_hashes: Column, b_hashes: Column) -> Column:
    """Exact Jaccard over two shingle-hash arrays (verification step)."""
    inter = F.size(F.array_intersect(a_hashes, b_hashes))
    union = F.size(F.array_union(a_hashes, b_hashes))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def simhash64_expr(text_sql: str) -> Column:
    """Pure-SQL-expression 64-bit SimHash (reference implementation).

    For each bit b: sign of Σ_tokens (bit b of xxhash64(token) ? +1 : -1),
    packed into one long. Built as a SQL expr because the Python
    ``shiftleft`` wrapper only takes literal shift amounts. The nested
    aggregates are interpreted (no codegen) — keep for cross-checks, use
    ``simhash64`` (Arrow+numpy) for volume.

    ``text_sql`` is a SQL fragment naming the text column (e.g. ``"text"``).
    """
    toks = (
        f"filter(split(lower(trim(coalesce({text_sql},''))),'[^a-z0-9]+'),"
        " x -> length(x) > 0)"
    )
    return F.expr(
        f"""
        aggregate(
          transform(sequence(0, 63), b ->
            if(aggregate(transform({toks}, tk -> xxhash64(tk)),
                         0L, (acc, h) -> acc + if((h & shiftleft(1L, b)) != 0, 1L, -1L)) > 0,
               shiftleft(1L, b), 0L)),
          0L, (acc, x) -> acc | x)
        """
    )


def simhash64(text_sql: str) -> Column:
    """64-bit SimHash: token hashes JVM-side (one xxhash64 per token),
    bit-vote aggregation in an Arrow-batched numpy UDF (unpack 64 bits →
    ±1 votes → sign → repack). Matches ``simhash64_expr`` bit-for-bit."""
    token_hashes = F.transform(
        F.filter(
            F.split(F.lower(F.trim(F.coalesce(F.expr(text_sql), F.lit("")))), r"[^a-z0-9]+"),
            lambda x: F.length(x) > 0,
        ),
        lambda t: F.xxhash64(t),
    )

    @F.pandas_udf("long")
    def sh(batch: pd.Series) -> pd.Series:
        bitpos = np.arange(64, dtype=np.uint64)
        out = np.zeros(len(batch), dtype=np.int64)
        for i, h in enumerate(batch):
            if h is None or len(h) == 0:
                continue
            x = np.asarray(h, dtype=np.int64).astype(np.uint64)
            bits = (x[:, None] >> bitpos[None, :]) & np.uint64(1)  # (n, 64)
            pos = (bits.astype(np.int64) * 2 - 1).sum(axis=0) > 0
            packed = np.bitwise_or.reduce(pos.astype(np.uint64) << bitpos)
            out[i] = np.array([packed], dtype=np.uint64).view(np.int64)[0]
        return pd.Series(out)

    return sh(token_hashes)


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two packed 64-bit hashes (bit_count(xor))."""
    return F.bit_count(a.bitwiseXOR(b))
