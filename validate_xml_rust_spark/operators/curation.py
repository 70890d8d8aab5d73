"""Training-data curation operators: deterministic sampling, benchmark
decontamination, PII redaction.

These are the pipeline steps between validation/dedup and training that
the engine's users run at corpus scale:

- ``hash_sample`` / ``stratified_sample`` — DETERMINISTIC sampling keyed
  on content identity (md5-derived 32-bit ticket), not ``rand()``: the
  same row is always in or out regardless of partitioning, retries, or
  cluster size — reproducible datasets, and restatable in ANSI SQL for
  the oracle gate (unlike xxhash64).
- ``contamination_flags`` — test-set decontamination: flag documents
  sharing any word n-gram with a benchmark corpus. The benchmark's n-gram
  hash set is tiny (broadcast); the corpus side is one explode + one
  broadcast join — no shuffle of the corpus.
- ``redact_pii`` — email/phone/IPv4 scrubbing with match counts, pure
  JVM regex (patterns restricted to the Java∩RE2 common subset so the
  DuckDB oracle can restate them verbatim).

Scale notes: sampling is a stateless per-row predicate (no shuffle);
decontamination shuffles NOTHING on the corpus side when the benchmark
set broadcasts (the common case — benchmarks are ≤10^6 n-grams); at
10^12 docs the explode emits ~n_words rows per doc but they stream
through the broadcast join without materializing.
"""

from __future__ import annotations

from functools import partial

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from validate_xml_rust_spark.colcache import per_context
from validate_xml_rust_spark.functions.grambuckets import (
    bucket_ids,
    gram_bucket_counts,
    word_grams,
)
from validate_xml_rust_spark.functions.texthash import shingle_hashes

# 32-bit ticket space for sampling decisions
TICKET_SPACE = 1 << 32


def sample_ticket(key: Column, seed: str = "s0") -> Column:
    """Deterministic 32-bit sampling ticket: first 8 hex chars of
    md5(seed || key). md5 (not xxhash64) so the DuckDB oracle can compute
    the identical ticket."""
    h = F.md5(F.concat(F.lit(seed), F.lit(":"), key.cast("string")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long")


def hash_sample(
    df: DataFrame, rate: float, key_col: str, seed: str = "s0"
) -> DataFrame:
    """Keep ~``rate`` of rows, decided by content identity: row kept iff
    ticket(key) < rate·2³². Reproducible across runs, partitionings, and
    engines; rows keep their membership when the corpus is re-ingested."""
    return df.filter(sample_ticket(F.col(key_col), seed) < int(rate * TICKET_SPACE))


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    key_col: str,
    seed: str = "s0",
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. language rebalancing for a
    training mix): stratum s keeps ``fractions[s]`` of its rows, absent
    strata keep ``default_rate``. Same ticket mechanism as hash_sample —
    one stateless predicate, no shuffle, no rand()."""
    thr: Column = F.lit(int(default_rate * TICKET_SPACE))
    for s, r in sorted(fractions.items()):
        thr = F.when(F.col(strata_col) == s, F.lit(int(r * TICKET_SPACE))).otherwise(thr)
    return df.filter(sample_ticket(F.col(key_col), seed) < thr)


def cap_per_group(
    df: DataFrame,
    group_col: str,
    max_per_group: int,
    key_col: str = "doc_id",
    seed: str = "cap",
) -> DataFrame:
    """Per-group document cap (~``max_per_group`` rows per group) — the
    crawl-balance policy ("at most K pages per host/domain") applied the
    scale-safe way: group sizes reduce to one count row per DISTINCT
    group (map-side combined), each group's keep threshold is
    floor(K·2³² / n_g) — ≥ 2³² when the group is under the cap, so small
    groups survive WHOLE — and a row stays iff its deterministic md5
    ticket falls under its group's threshold. NULL group values form
    their own capped group (coalesced to ``__null__`` — unattributed
    spam is exactly what caps exist for); NULL keys draw one shared
    ticket (coalesced key) and live or die together — route them
    upstream if that matters.

    Counts per group land NEAR the cap (rate-based, not an exact quota —
    exactness would be a per-group top-K Window, the skew trap AQE never
    splits; the diversity_sample trade, stated not hidden). Membership
    is reproducible across runs, partitionings, and engines. The
    threshold table is group-cardinality-sized and broadcasts; the keep
    decision is a stateless predicate — zero corpus shuffle."""
    grp = F.coalesce(F.col(group_col).cast("string"), F.lit("__null__"))
    counts = (
        df.groupBy(grp.alias("__grp"))
        .agg(F.count(F.lit(1)).alias("__n"))
        .withColumn(
            "__thr",
            F.floor(
                F.lit(int(max_per_group) * TICKET_SPACE) / F.col("__n")
            ),
        )
        .select("__grp", "__thr")
    )
    tick = sample_ticket(
        F.coalesce(F.col(key_col).cast("string"), F.lit("")), seed
    )
    return (
        df.withColumn("__g", grp)
        .join(F.broadcast(counts), F.col("__g") == F.col("__grp"))
        .filter(tick < F.col("__thr"))
        .drop("__g", "__grp", "__thr")
    )


def mixture_epochs(
    df: DataFrame,
    factors: dict[str, float],
    source_col: str,
    key_col: str,
    seed: str = "mx",
    default_factor: float = 1.0,
) -> DataFrame:
    """Weighted mixture composition: replicate/sample each source of a
    multi-source corpus by its mixing factor — the Pile "epochs per
    subset" / GPT-3 Table 2.2 weighted-sampling recipe (Gao et al. 2020;
    Brown et al. 2020), where high-quality sources are seen >1 time per
    training run and bulk web sources <1 time.

    Factor semantics per source s (``default_factor`` for unlisted):
    every row gets ``floor(f_s)`` full copies, plus one extra copy iff
    its deterministic md5 ticket over (key, source) falls under the
    fractional part — so f_s = 2.5 yields epochs {0,1} for every row and
    epoch 2 for a reproducible ~50% of rows; f_s = 0.25 keeps ~25% at
    epoch 0; f_s = 0 drops the source. Adds ``epoch bigint``; row order
    and all other columns pass through.

    Scale shape: a when-chain factor lookup (n_sources is small), one
    md5 per row, one explode — pure narrow expressions, zero shuffle,
    zero Python; output size is exactly the token-budget arithmetic the
    factors encode. Deterministic across runs/partitioning/engines —
    the gate's DuckDB oracle re-derives membership nibble-by-nibble."""
    import math

    kcol: Column = F.lit(int(math.floor(default_factor)))
    thr: Column = F.lit(
        int((default_factor - math.floor(default_factor)) * TICKET_SPACE)
    )
    for s, fct in sorted(factors.items()):
        if fct < 0:
            raise ValueError(f"negative mixture factor for {s!r}: {fct}")
        kf = int(math.floor(fct))
        kcol = F.when(F.col(source_col) == s, F.lit(kf)).otherwise(kcol)
        thr = F.when(
            F.col(source_col) == s,
            F.lit(int((fct - kf) * TICKET_SPACE)),
        ).otherwise(thr)
    # NULL source behaves as an unlisted source (default_factor) — the
    # ticket key coalesces it so the fractional draw stays defined
    # (concat with NULL would NULL the ticket and silently drop the row)
    tick = sample_ticket(
        F.concat(
            F.col(key_col).cast("string"), F.lit("|"),
            F.coalesce(F.col(source_col), F.lit("")),
        ),
        seed,
    )
    # NULL key → NULL ticket: no fractional draw, but the floor copies
    # still apply (a row is never silently dropped by a NULL)
    n_copies = kcol + F.coalesce((tick < thr).cast("int"), F.lit(0))
    arr = F.when(
        n_copies > 0, F.sequence(F.lit(0), n_copies - 1)
    ).otherwise(F.array().cast("array<int>"))
    # a generator can't sit inside a cast — explode first, cast after
    return df.withColumn("epoch", F.explode(arr)).withColumn(
        "epoch", F.col("epoch").cast("long")
    )


def _word_bigrams(tok_col: Column) -> Column:
    """Positional word-bigram strings of a MATERIALIZED token-array
    column (plain attribute — embedding an expression tree here would
    re-tokenize per element, the O(len²) HOF trap); empty below 2
    tokens, and the sequence is guarded (sequence(2, 1) counts DOWN)."""
    n = F.size(tok_col)
    bg = F.transform(
        F.sequence(F.lit(2), n),
        lambda i: F.concat_ws(
            " ", F.element_at(tok_col, i - 1), F.element_at(tok_col, i)
        ),
    )
    return F.when(n >= 2, bg).otherwise(F.array().cast("array<string>"))


def _dsir_gram_buckets(
    frame: DataFrame,
    text_col: str,
    n_buckets: int,
    seed: str,
    key_col: str | None,
) -> DataFrame:
    """Hashed bag-of-ngrams rows for DSIR: one row per word unigram and
    bigram OCCURRENCE (multiplicity kept — it's a bag, not a set), with
    its md5-derived feature bucket ``b`` in [0, n_buckets). md5 (not
    xxhash64) so the DuckDB oracle recomputes the identical bucket."""
    from validate_xml_rust_spark.functions.texthash import tokens

    keys = [F.col(key_col).alias("__k")] if key_col else []
    toks = frame.select(*keys, tokens(F.col(text_col)).alias("__w"))
    grams = toks.select(
        *(["__k"] if key_col else []),
        F.explode(
            F.concat(F.col("__w"), _word_bigrams(F.col("__w")))
        ).alias("__g"),
    )
    return grams.withColumn(
        "b", sample_ticket(F.col("__g"), seed) % F.lit(n_buckets)
    ).drop("__g")


def dsir_weights(
    df: DataFrame,
    target: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    target_text_col: str | None = None,
    n_buckets: int = 4096,
    alpha: float = 1.0,
    seed: str = "dsir",
    raw_sample_rate: float | None = None,
) -> DataFrame:
    """Data Selection with Importance Resampling (DSIR, Xie et al. 2023
    — public recipe): score every raw document by how target-like it is
    under hashed bag-of-ngrams bigram models of the TARGET corpus vs the
    RAW corpus.

    Features are word unigrams + bigrams hashed into ``n_buckets`` md5
    buckets; each corpus reduces to add-α-smoothed bucket probabilities
    p̂[b] = (c_b + α)/(T + α·B), and a document's log importance weight
    is Σ_grams (ln p̂_target[b(g)] − ln p̂_raw[b(g)]). Output: one row
    per DISTINCT non-NULL key — ``(key_col, n_grams bigint, logw
    double)``; docs with no grams get logw = 0 (ratio 1 under no
    evidence). Rows sharing a key are one logical document whose bag is
    the union of the copies' grams; NULL-key rows contribute grams to
    the raw model but are not scored (the pipeline's dsir_select step
    routes them around the operator verbatim).

    Scale shape: each corpus reduces ONCE to a ≤n_buckets-row count
    table (one gram_bucket_counts pass, collected — driver-bounded by
    construction); the per-bucket log-ratio table rides the scoring
    task closure, so scoring is one narrow mapInPandas pass + a
    groupBy(key). The raw-side stats need a full corpus pass; at 10^12 docs pass
    ``raw_sample_rate`` to estimate them on a deterministic hash sample
    instead (the paper fits its raw model on a subset too) — scoring
    still covers every row."""
    B = int(n_buckets)
    a = float(alpha)
    tcol = target_text_col if target_text_col is not None else text_col

    # r7 (guide §4.2/§2.3): both bucket models reduce via ONE Arrow
    # partial-count pass each (md5 once per DISTINCT gram, memoized)
    # instead of a per-occurrence md5 + explode + count shuffle; the
    # per-bucket log-ratio table is ≤ B entries, computed driver-side
    # and shipped in the scoring task closure; scoring is one Arrow
    # pass per row + a per-key (n, Σ) aggregate. Gram counts are exact
    # integers (identical to the exploded path — langid parity
    # pattern); logw is a double sum whose addition order changes, the
    # same cross-engine tolerance the 6dp-rounded oracle already
    # absorbs (DuckDB sums in its own order today).
    import numpy as np

    grams = partial(word_grams, bigrams=True)

    def prep(col: str) -> Column:
        return F.lower(F.trim(F.coalesce(F.col(col), F.lit(""))))

    def bucket_counts(frame: DataFrame, col: str) -> np.ndarray:
        cnt = np.zeros(B, dtype=np.float64)
        for r in gram_bucket_counts(frame, prep(col), grams, B, seed).collect():
            cnt[r["b"]] = r["__c"]
        return cnt

    ctv = bucket_counts(target, tcol)
    raw = df if raw_sample_rate is None else hash_sample(
        df, raw_sample_rate, key_col, seed + "_raw"
    )
    crv = bucket_counts(raw, text_col)
    tt = float(ctv.sum())
    tr = float(crv.sum())
    lr = np.log((ctv + a) / (tt + a * B)) - np.log((crv + a) / (tr + a * B))

    key_type = df.schema[key_col].dataType.simpleString()

    def score_part(it):
        for pdf in it:
            n_out = np.zeros(len(pdf), dtype=np.int64)
            w_out = np.zeros(len(pdf), dtype=np.float64)
            for k, text in enumerate(pdf["__t"]):
                bs = bucket_ids(grams(text), seed, B)
                n_out[k] = len(bs)
                if bs:
                    w_out[k] = lr[np.asarray(bs, dtype=np.int64)].sum()
            out = pd.DataFrame({"__n": n_out, "__w": w_out})
            out.insert(0, "__k", pdf["__k"].to_numpy())
            yield out

    scored = (
        df.select(F.col(key_col).alias("__k"), prep(text_col).alias("__t"))
        .mapInPandas(
            score_part, f"__k {key_type}, __n long, __w double"
        )
        .groupBy("__k")
        .agg(
            F.sum("__n").alias("n_grams"),
            F.sum("__w").alias("logw"),
        )
        # zero-gram docs contributed (0, 0.0) partials — the exploded
        # path emitted NO group for them; normalize to the same output
        # through the left join + coalesce below (values agree: 0, 0.0)
    )
    return (
        df.filter(F.col(key_col).isNotNull())
        .select(F.col(key_col))
        .distinct()
        .join(scored.withColumnRenamed("__k", key_col), key_col, "left")
        .select(
            key_col,
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("logw", F.lit(0.0)).cast("double").alias("logw"),
        )
    )


def dsir_resample(
    df: DataFrame,
    target: DataFrame,
    k: int,
    key_col: str = "doc_id",
    text_col: str = "text",
    target_text_col: str | None = None,
    n_buckets: int = 4096,
    alpha: float = 1.0,
    seed: str = "dsir",
    raw_sample_rate: float | None = None,
    gumbel: bool = True,
    temperature: float = 1.0,
) -> DataFrame:
    """Select ``k`` raw documents by DSIR importance weight. With
    ``gumbel=True`` (default) this is exact Gumbel-top-k sampling
    without replacement from softmax(logw/temperature) — the paper's
    resampling step — with the Gumbel draw derived from the md5 ticket
    (u = (ticket+0.5)/2³², g = −ln(−ln u)): deterministic across runs,
    partitionings, and engines, and it breaks ties between exact-dup
    docs (equal logw, different keys). ``gumbel=False`` degrades to
    hard top-k by weight.

    Output: the selected input rows + ``dsir_score`` (the ranking key,
    rounded 6dp). Selection is over k DISTINCT keys (dsir_weights emits
    one row per distinct non-NULL key); every input row bearing a
    selected key is returned, so duplicate-key inputs can yield >k rows
    and NULL-key rows are never selected — the pipeline's dsir_select
    step routes both cases around the operator explicitly. Selection
    itself is orderBy(score, key).limit(k) —
    TakeOrdered, a distributed per-partition top-k + driver merge, NOT a
    global sort — and the k selected keys broadcast back onto the corpus
    for the row join."""
    w = dsir_weights(
        df, target, key_col, text_col, target_text_col,
        n_buckets, alpha, seed, raw_sample_rate,
    )
    score = F.col("logw") / F.lit(float(temperature))
    if gumbel:
        u = (
            sample_ticket(F.col(key_col), seed + "_g").cast("double")
            + F.lit(0.5)
        ) / F.lit(float(TICKET_SPACE))
        score = score + (-F.log(-F.log(u)))
    pick = (
        w.withColumn("dsir_score", F.round(score, 6))
        .orderBy(F.desc("dsir_score"), F.col(key_col))
        .limit(int(k))
        .select(key_col, "dsir_score")
    )
    return df.join(F.broadcast(pick), key_col)


def contamination_flags(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    n: int = 8,
    broadcast: bool = True,
) -> DataFrame:
    """Benchmark decontamination: per document, the number of distinct
    word ``n``-grams it shares with the benchmark corpus (0 = clean).

    Output: ``id, n_contaminated_ngrams, contaminated``. Drop/keep
    policy belongs to the caller (``.filter(~col('contaminated'))``).

    The benchmark n-gram hash set broadcasts (benchmarks are small);
    the corpus side streams explode→join→count with one final groupBy on
    the doc id. ``broadcast=False`` for pathological benchmark sizes."""
    bench_grams = (
        benchmark.select(
            F.explode(shingle_hashes(F.col(bench_text_col), n)).alias("__g")
        ).distinct()
    )
    if broadcast:
        bench_grams = F.broadcast(bench_grams)
    # shingle_hashes is per-doc DISTINCT already (np.unique) — exploding
    # yields unique (id, gram) pairs, so no corpus-wide distinct/shuffle
    # is needed before the broadcast probe; the only shuffle is the
    # per-doc count over the (tiny) hit stream
    doc_grams = df.select(
        F.col(id_col).alias("__id"),
        F.explode(shingle_hashes(F.col(text_col), n)).alias("__g"),
    )
    hits = doc_grams.join(bench_grams, "__g").groupBy("__id").agg(
        F.count(F.lit(1)).alias("n_contaminated_ngrams")
    )
    return (
        df.select(F.col(id_col).alias("__id"))
        .join(hits, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce("n_contaminated_ngrams", F.lit(0)).alias(
                "n_contaminated_ngrams"
            ),
            (F.coalesce("n_contaminated_ngrams", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def _gram_hashes(col: Column, n: int, tokenizer: str, bpe) -> Column:
    """Distinct n-gram hashes in the chosen token domain: whitespace words
    (default) or BPE subwords (model-token space — the domain real
    decontamination thresholds like "13 tokens" are defined in)."""
    if tokenizer == "ws":
        return shingle_hashes(col, n)
    if tokenizer == "bpe":
        from validate_xml_rust_spark.functions.bpe import bpe_token_hashes
        from validate_xml_rust_spark.functions.texthash import (
            shingle_hashes_from,
        )

        return shingle_hashes_from(bpe_token_hashes(col, bpe), n)
    raise ValueError(f"unknown tokenizer {tokenizer!r}")


def _token_count(col: Column, tokenizer: str, bpe) -> Column:
    if tokenizer == "ws":
        from validate_xml_rust_spark.functions.texthash import tokens

        return F.size(tokens(col))
    if tokenizer == "bpe":
        from validate_xml_rust_spark.functions.bpe import bpe_token_count

        return bpe_token_count(col, bpe)
    raise ValueError(f"unknown tokenizer {tokenizer!r}")


def contamination_sweep(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    primary_n: int = 13,
    min_n: int = 5,
    broadcast: bool = True,
    tokenizer: str = "ws",
    bpe=None,
) -> DataFrame:
    """N-gram-LENGTH-sweep decontamination — the public GPT-3/PaLM recipe:
    long benchmark entries match by shared ``primary_n``-grams (13 is the
    published default); entries SHORTER than ``primary_n`` tokens — quiz
    questions, short answers — are matched as EXACT token-substring: the
    document's ℓ-grams must contain the entry's whole ℓ-token string, one
    pass per short length ℓ present in the benchmark. A fixed-n check
    (``contamination_flags``) lets every sub-13-token question slip
    through; the sweep closes that hole.

    Output: ``id, n_contaminated_ngrams (distinct hits across all
    passes), contaminated``.

    Scale shape: the short lengths are read off the BENCHMARK (one
    driver-side distinct over a small frame — benchmarks are 10^3-10^6
    entries, never corpus-sized), so the corpus pays one extra
    explode+broadcast-join pass per distinct short length actually
    present (≤ primary_n - min_n passes, typically 2-4). Each pass is
    narrow: explode streams through the broadcast probe, the only shuffle
    is the per-doc count of the (tiny) hit stream. Entries below
    ``min_n`` tokens are excluded — matching 1-2-token strings flags
    everything and is noise, not contamination (same floor as the
    published recipes).

    ``tokenizer="bpe"`` (with a ``bpe`` encoder from functions/bpe.py)
    runs the WHOLE sweep in model-token space: entry lengths, the 13-gram
    threshold, and the gram hashes themselves are all measured in BPE
    subwords — the domain the published recipes actually define their
    thresholds in (a 6-word quiz question is often ≥ 10 model tokens, so
    word-domain length routing misclassifies it)."""
    if tokenizer == "bpe" and bpe is None:
        from validate_xml_rust_spark.functions.bpe import default_bpe

        bpe = default_bpe(df.sparkSession)  # same fallback as chunking
    bn = benchmark.withColumn(
        "__bn", _token_count(F.col(bench_text_col), tokenizer, bpe)
    )
    # distinct short lengths present in the benchmark: bounded driver round
    short_lengths = sorted(
        r["__bn"]
        for r in bn.filter(
            (F.col("__bn") >= min_n) & (F.col("__bn") < primary_n)
        ).select("__bn").distinct().collect()
    )
    passes: list[tuple[int, DataFrame]] = []
    # primary pass: entries with >= primary_n tokens, classic shared-gram
    long_bench = bn.filter(F.col("__bn") >= primary_n)
    passes.append((primary_n, long_bench))
    # short passes: exactly-ℓ-token entries, whole-string gram (ℓ-gram of
    # an ℓ-token text IS its full token string — substring semantics)
    for ell in short_lengths:
        passes.append((ell, bn.filter(F.col("__bn") == ell)))

    hits = None
    for n, bench_slice in passes:
        bench_grams = bench_slice.select(
            F.explode(
                _gram_hashes(F.col(bench_text_col), n, tokenizer, bpe)
            ).alias("__g")
        ).distinct()
        if broadcast:
            bench_grams = F.broadcast(bench_grams)
        doc_grams = df.select(
            F.col(id_col).alias("__id"),
            F.explode(_gram_hashes(F.col(text_col), n, tokenizer, bpe)).alias("__g"),
        )
        h = doc_grams.join(bench_grams, "__g").groupBy("__id").agg(
            F.count(F.lit(1)).alias("__n")
        )
        hits = h if hits is None else hits.unionByName(h)
    # the primary pass always runs, so hits is never None here
    agg = hits.groupBy("__id").agg(F.sum("__n").alias("n_contaminated_ngrams"))
    base = df.select(F.col(id_col).alias("__id")).join(agg, "__id", "left")
    return base.select(
        F.col("__id").alias(id_col),
        F.coalesce("n_contaminated_ngrams", F.lit(0)).cast("long").alias(
            "n_contaminated_ngrams"
        ),
        (F.coalesce("n_contaminated_ngrams", F.lit(0)) > 0).alias("contaminated"),
    )


# PII patterns — Java∩RE2 common subset ONLY (no lookarounds, no \b
# differences: \b is ASCII word boundary in both). Order matters: emails
# before IPs before phones (an already-redacted token can't re-match).
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    ("phone", r"\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b", "<PHONE>"),
]


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int,
    overlap: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokenizer: str = "ws",
    bpe=None,
) -> DataFrame:
    """Fixed-size token windowing for pretraining: each document's token
    sequence is split into chunks of ``chunk_tokens`` tokens, consecutive
    chunks overlapping by ``overlap`` (stride = chunk_tokens − overlap,
    the standard sliding-window recipe). Chunk starts are 0, stride,
    2·stride, …, stopping once a window REACHES the end of the sequence
    (a doc no longer than one chunk yields exactly one chunk — never a
    trailing fragment already contained in the previous window; the
    hypothesis property test pins full coverage + exact reconstruction).
    The final chunk may be short. Zero-token docs emit no chunks. Chunks are token-domain (joined with
    single spaces via the engine's shared tokenizer) — the downstream
    consumers (dedup shingles, packing budgets, quality scores) all
    operate on tokens, so chunking in the same domain keeps the pipeline
    closed under composition.

    Output: ``(id_col, chunk_idx, chunk_text, n_tokens)``.

    ``tokenizer="ws"`` (default) budgets in whitespace-word tokens;
    ``tokenizer="bpe"`` budgets in SUBWORD tokens of the committed BPE
    vocabulary (functions/bpe.py — pass a ``bpe`` encoder or the fixture
    default loads), so chunk sizes are model-real: chunk boundaries fall
    at BPE-token granularity (mid-word is allowed, exactly like real
    pretraining pipelines) and chunk_text is the space-joined subword
    pieces (``</w>``-marked), losslessly decodable via
    ``Bpe.decode_pieces``.

    Scale shape: pure Column expressions (tokenize → sequence →
    transform → posexplode) — a NARROW op, zero shuffle, streaming
    through the scan; per-doc work is O(n_tokens · chunks_per_doc) and
    chunk counts are small, so the interpreted higher-order functions
    stay off the hot path. The bpe path swaps the token array for one
    Arrow-batched encode (Catalyst dedups the identical UDF expressions
    into a single evaluation — pinned by a plan test); the windowing
    arithmetic is SHARED between modes, so the ws-mode oracle pins the
    bpe mode's stride math too. Restatable in ANSI SQL for the gate
    oracle."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    from validate_xml_rust_spark.functions.texthash import tokens

    stride = chunk_tokens - overlap
    if tokenizer == "ws":
        tok = tokens(F.col(text_col))
    elif tokenizer == "bpe":
        from validate_xml_rust_spark.functions.bpe import bpe_tokens, default_bpe

        tok = bpe_tokens(
            F.col(text_col), bpe or default_bpe(df.sparkSession)
        )
    else:
        raise ValueError(f"unknown tokenizer {tokenizer!r}")
    # materialize the token array as a plain attribute FIRST: the window
    # expressions reference it inside higher-order-function lambdas, where
    # a Python UDF (the bpe path) is not allowed inline — and the shared
    # attribute keeps the Arrow encode evaluated once, not per reference
    toked = df.select(F.col(id_col), tok.alias("__w"))
    w = F.col("__w")
    n = F.size(w)
    n_chunks = (
        F.when(n <= 0, F.lit(0))
        .when(n <= chunk_tokens, F.lit(1))
        .otherwise(
            F.floor((n - F.lit(chunk_tokens) + F.lit(stride - 1)) / stride)
            + F.lit(1)
        )
        .cast("int")
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - F.lit(1)),
        lambda i: F.struct(
            i.cast("int").alias("chunk_idx"),
            F.concat_ws(
                " ", F.slice(w, i * stride + F.lit(1), chunk_tokens)
            ).alias("chunk_text"),
            F.least(n - i * stride, F.lit(chunk_tokens)).cast("int").alias(
                "n_tokens"
            ),
        ),
    )
    # explode_OUTER + post-filter, not plain explode: Generate(outer=false)
    # makes the optimizer infer a size()>0 pre-filter and push it below the
    # projection — duplicating the token computation (a SECOND Arrow encode
    # per row on the bpe path, plan-tested). Outer generate infers nothing;
    # the NULL rows of zero-token docs drop in a filter on the generate's
    # own output, which cannot be pushed down.
    return (
        toked.select(F.col(id_col), F.when(n > 0, chunks).alias("__c"))
        .select(id_col, F.explode_outer("__c").alias("__e"))
        .filter(F.col("__e").isNotNull())
        .select(
            id_col,
            F.col("__e.chunk_idx").alias("chunk_idx"),
            F.col("__e.chunk_text").alias("chunk_text"),
            F.col("__e.n_tokens").alias("n_tokens"),
        )
    )


PACK_SCHEMA = "doc_id long, partition_id int, pack_id long, n_tokens int"


def pack_sequences(
    df: DataFrame,
    max_tokens: int,
    id_col: str = "doc_id",
    partition_col: str = "partition_id",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """Greedy sequence packing for pretraining batches: within each
    logical partition, docs are taken in ``id`` order and appended to the
    current pack until adding one would exceed ``max_tokens``; then a new
    pack opens. A doc longer than the budget gets a pack of its own.

    Output: ``doc_id, partition_id, pack_id, n_tokens`` where pack_id is
    partition-scoped (partition_id·2³² + seq — globally unique, stable).

    The fold is inherently sequential PER PARTITION (a running budget
    with resets is not a window function), so it runs as one grouped-map
    ``applyInPandas`` over the partition column — each group is one Arrow
    batch in, one out, numpy/python only over that group's (id, tokens)
    pairs, never row-at-a-time through the JVM. At corpus scale the
    partition count bounds parallelism, so partitions should be sized to
    O(10⁴-10⁵) docs (the usual shard size)."""
    import pandas as pd

    def pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("__id")
        pid = int(pdf["__pid"].iloc[0])
        packs, budget, seq = [], 0, -1
        for t in pdf["__tok"]:
            t = int(t) if t is not None and t == t else 0
            if seq < 0 or budget + t > max_tokens:
                seq += 1
                budget = 0
            budget += t
            packs.append((pid << 32) + seq)
        return pd.DataFrame(
            {
                "doc_id": pdf["__id"],
                "partition_id": pid,
                "pack_id": packs,
                "n_tokens": [int(t) if t == t else 0 for t in pdf["__tok"]],
            }
        )

    prepared = df.select(
        F.col(id_col).alias("__id"),
        F.col(partition_col).cast("int").alias("__pid"),
        F.col(tokens_col).cast("int").alias("__tok"),
    )
    return prepared.groupBy("__pid").applyInPandas(pack, PACK_SCHEMA)


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    form: str = "NFC",
    lower: bool = False,
    strip_accents: bool = False,
    out_col: str | None = None,
) -> DataFrame:
    """Unicode text normalization (the canonicalization step every
    multilingual corpus pipeline runs before hashing/dedup — composed
    vs decomposed accents, compatibility ligatures, width variants all
    hash differently until normalized): ``form`` ∈ NFC/NFKC/NFD/NFKD
    via Python's unicodedata in an Arrow-batched UDF, with optional
    casefold (``lower``) and accent stripping (NFD-decompose → drop
    combining marks → re-normalize). NULL stays NULL; the result lands
    in ``out_col`` (default: in place).

    Idempotent by construction (Unicode normalization is a fixed
    point — property-tested). Scale shape: one Arrow pass, zero
    shuffle, composes with pushdown; NFC specifically is restated by
    the DuckDB oracle's nfc_normalize so the gate pins the table."""
    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"unknown normalization form: {form!r}")
    return df.withColumn(
        out_col or text_col, _normalized(text_col, form, lower, strip_accents)
    )


@per_context
def _normalized(text_col: str, form: str, lower: bool, strip_accents: bool) -> Column:
    """normalize_text's UDF over ``text_col`` (built once per session)."""
    import unicodedata

    @F.pandas_udf("string")
    def norm(batch: "pd.Series") -> "pd.Series":
        # order matters for the fixed-point contract: casefold FIRST
        # (it can create composable pairs, e.g. J+caron → j+caron whose
        # NFC is U+01F0), then accent-strip over the NFD view, then ONE
        # final normalize to the requested form — so the output is
        # always form-normal and canon(canon(x)) == canon(x) holds for
        # every option combination (property-tested).
        def one(t):
            if t is None:
                return None
            s = t
            if lower:
                s = s.casefold()
            if strip_accents:
                s = "".join(
                    ch
                    for ch in unicodedata.normalize("NFD", s)
                    if unicodedata.category(ch) != "Mn"
                )
            return unicodedata.normalize(form, s)

        return batch.map(one)

    return norm(F.col(text_col))


def redact_pii(
    df: DataFrame, text_col: str = "text", out_col: str = "redacted"
) -> DataFrame:
    """Scrub emails / IPv4s / phone numbers, with per-kind match counts
    (``n_email, n_ip, n_phone``) for audit rows. Pure JVM regex — one
    codegen'd projection, no Python."""
    return df.withColumns(_pii_columns(text_col, out_col))


@per_context
def _pii_columns(text_col: str, out_col: str) -> dict[str, Column]:
    """redact_pii's columns: each kind's count over the text the earlier
    kinds have already scrubbed, then the scrubbed text."""
    red = F.coalesce(F.col(text_col), F.lit(""))
    cols = {}
    for kind, pat, token in PII_PATTERNS:
        cols[f"n_{kind}"] = F.regexp_count(red, F.lit(pat))
        red = F.regexp_replace(red, pat, token)
    cols[out_col] = red
    return cols


def boilerplate_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_freq: int = 10,
) -> DataFrame:
    """Corpus-level boilerplate detection (the C4/CCNet rule): a line is
    boilerplate when its trimmed form occurs in MORE than ``max_doc_freq``
    distinct documents (nav bars, cookie banners, copyright footers).

    Returns (line, doc_freq). Scale shape: explode is narrow; the distinct
    count is Spark's two-phase plan — stage 1 shuffles on the uniform
    (line, doc_id) pair (a hot line's occurrences spread over all
    reducers), stage 2's per-line row counts partial-aggregate map-side,
    so one row per line per map task reaches the final reducer. No skew
    hotspot even for a footer present in 10^11 documents.
    """
    lines = df.select(
        F.col(id_col).alias("__id"),
        F.explode(F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")).alias("__raw"),
    ).select("__id", F.trim(F.col("__raw")).alias("line"))
    return (
        lines.where(F.col("line") != "")
        .groupBy("line")
        .agg(F.countDistinct("__id").alias("doc_freq"))
        .where(F.col("doc_freq") > max_doc_freq)
    )


def strip_boilerplate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_freq: int = 10,
    out_col: str = "clean_text",
) -> DataFrame:
    """Remove corpus-boilerplate lines from every document, preserving the
    original order of the surviving lines (and empty lines, which carry
    paragraph structure and are never counted as boilerplate).

    The boilerplate set is per-corpus tiny (bounded by distinct lines with
    doc_freq > threshold — thousands, not billions), so the anti join
    broadcasts; the rebuild is one groupBy(id) whose rows are the doc's
    own lines — partitioned by the uniform id key. Order is restored via
    ``array_sort`` on (idx, line) structs, NOT collect order, so the
    output is partitioning- and retry-invariant.

    Per-document contract: EVERY input doc yields exactly one output row
    ``(id_col, out_col)`` — a doc whose every line is boilerplate (and has
    no empty lines) survives with ``out_col = ''`` via the left join back
    to the id set, rather than vanishing from the rebuild groupBy.
    """
    bp = boilerplate_lines(df, text_col, id_col, max_doc_freq).select("line")
    lines = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")).alias(
            "__idx", "__raw"
        ),
    ).withColumn("__line", F.trim(F.col("__raw")))
    kept = lines.join(
        F.broadcast(bp), lines["__line"] == bp["line"], "left_anti"
    )
    rebuilt = (
        kept.groupBy("__id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__idx", "__raw"))),
                    lambda s: s["__raw"],
                ),
                "\n",
            ).alias(out_col)
        )
        .select(F.col("__id").alias(id_col), out_col)
    )
    return (
        df.select(id_col)
        .join(rebuilt, id_col, "left")
        .withColumn(out_col, F.coalesce(F.col(out_col), F.lit("")))
    )


def dedup_lines_within_doc(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "clean_text",
) -> DataFrame:
    """Within-document repeated-line removal — the SELF-repetition
    complement to ``strip_boilerplate`` (which needs the whole corpus to
    vote a line boilerplate, this needs only the document): every
    repeated occurrence of a non-empty line (trim-compared, so
    indentation variants collapse) after its first is dropped; empty
    lines carry paragraph structure and always survive; surviving lines
    keep their original order and original (untrimmed) bytes. The CCNet
    paragraph-dedup recipe at line granularity, as a page-local rule.

    Zero shuffle, zero Python: the line split is materialized ONCE per
    row (HOF lambdas reference only plain attributes — repo rule), and
    first-occurrence is ``array_position`` over the trimmed array inside
    a filter over the index sequence. array_position inside the lambda
    is O(lines²) per doc — lines are tens, not thousands (contrast
    tokens, where this pattern is banned), and the whole operator stays
    a codegen'd projection.

    Schema contract: the input row survives UNCHANGED with ``out_col``
    appended — a pure projection, no join-back, so NULL/duplicate ids
    need no special routing and the operator composes in place anywhere
    in a pipeline. NULL text behaves as empty."""
    out = df
    for stage in _dedup_lines_stages(text_col, out_col):
        out = out.withColumns(stage)
    return out.drop("__lines", "__tlines")


@per_context
def _dedup_lines_stages(text_col: str, out_col: str) -> tuple[dict[str, Column], ...]:
    """dedup_lines_within_doc's columns, one dict per dependent stage."""
    lines = F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
    idx = F.when(
        F.size("__lines") > 0,
        F.sequence(F.lit(0), F.size("__lines") - 1),
    ).otherwise(F.array().cast("array<int>"))
    keep = F.filter(
        idx,
        lambda i: (
            F.element_at(F.col("__tlines"), i + 1) == ""
        )
        | (
            F.array_position(
                F.col("__tlines"), F.element_at(F.col("__tlines"), i + 1)
            )
            == (i + 1).cast("long")
        ),
    )
    rebuilt = F.array_join(
        F.transform(keep, lambda i: F.element_at(F.col("__lines"), i + 1)),
        "\n",
    )
    return (
        {"__lines": lines},
        {"__tlines": F.transform(F.col("__lines"), lambda x: F.trim(x))},
        {out_col: rebuilt},
    )
