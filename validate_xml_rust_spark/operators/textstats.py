"""Text analysis for training-data pipelines: language ID, quality
scoring, token counting, document fingerprinting.

All pure Column expressions over the ``documents``/pages text column —
JVM-side, whole-stage codegen, zero Python in the hot path. Each operator
is deliberately simple enough to restate in ANSI SQL (DuckDB oracle) so
the driver's correctness gate covers it.
"""

from __future__ import annotations

from functools import partial

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from validate_xml_rust_spark.colcache import per_context
from validate_xml_rust_spark.functions.grambuckets import (
    bucket_ids,
    char_grams,
    gram_bucket_counts,
)

# Tiny per-language stopword marker sets for the n-gram/stopword heuristic.
# Deliberately small + high-precision so the heuristic is SQL-restatable.
LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of "],
    "de": [" der ", " und ", " die "],
    "fr": [" le ", " et ", " les "],
    "es": [" el ", " y ", " los "],
}


def _count_occurrences(text: Column, needle: str) -> Column:
    """Occurrences of a literal substring: (len(s) - len(replace(s, n)))/len(n).
    Pure string arithmetic — identical semantics in Spark SQL and DuckDB."""
    return (
        F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit("")))
    ) / F.lit(len(needle))


def lang_scores(text: Column) -> dict[str, Column]:
    """Per-language marker-occurrence scores over ' '-padded text."""
    padded = F.concat(F.lit(" "), F.lower(F.coalesce(text, F.lit(""))), F.lit(" "))
    return {
        lang: sum(
            (_count_occurrences(padded, m) for m in markers), start=F.lit(0.0)
        ).alias(f"score_{lang}")
        for lang, markers in LANG_MARKERS.items()
    }


def detect_language(df: DataFrame, text_col: str = "text") -> DataFrame:
    """argmax of marker scores; 'und' (undetermined) when all scores are 0.

    Ties break by language code order (deterministic, SQL-restatable)."""
    scores = lang_scores(F.col(text_col))
    out = df
    for lang, col in scores.items():
        out = out.withColumn(f"score_{lang}", col)
    # Fold right-to-left so on equal scores the alphabetically-first
    # language wins (deterministic, easy to restate in SQL).
    expr_best = F.lit("und")
    expr_score = F.lit(0.0)
    for lang in sorted(LANG_MARKERS, reverse=True):
        s = F.col(f"score_{lang}")
        expr_best = F.when((s > 0) & (s >= expr_score), F.lit(lang)).otherwise(expr_best)
        expr_score = F.greatest(s, expr_score)
    return out.withColumn("detected_lang", expr_best)


def token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace tokens + BPE-ish subword estimate.

    ``n_tokens``  — whitespace-delimited words,
    ``n_subwords``— regex split on word/number/punct boundaries (a cheap
                    BPE-count proxy: every run of letters, digits, or a
                    single punctuation char counts once),
    ``n_chars``.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    words = F.filter(F.split(F.trim(t), r"\s+"), lambda x: F.length(x) > 0)
    sub = F.filter(
        F.split(F.lower(t), r"(?<=[a-z0-9])(?=[^a-z0-9])|(?<=[^a-z0-9])(?=[a-z0-9])"),
        lambda x: F.length(F.trim(x)) > 0,
    )
    return (
        df.withColumn("n_tokens", F.size(words))
        .withColumn("n_subwords", F.size(sub))
        .withColumn("text_chars", F.length(t))
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality features + composite score in [0, 1]:

    - ``alpha_ratio``: alphabetic chars / total chars
    - ``punct_ratio``: sentence punctuation / total chars
    - ``stopword_ratio``: English-marker words / whitespace tokens
    - ``mean_word_len``: chars per token
    - ``quality``: clamped blend (length-normalized, penalizing
      punctuation soup and unnaturally long words)
    """
    return df.withColumns(_quality_columns(text_col))


@per_context
def _quality_columns(text_col: str) -> dict[str, Column]:
    t = F.coalesce(F.col(text_col), F.lit(""))
    n = F.greatest(F.length(t), F.lit(1))
    alpha = F.length(F.regexp_replace(t, r"[^A-Za-z]", ""))
    # fixed char set → translate (char-map pass), not a regex scan
    punct = F.length(t) - F.length(F.translate(t, ".,!?;:", ""))
    words = F.filter(F.split(F.trim(t), r"\s+"), lambda x: F.length(x) > 0)
    n_words = F.greatest(F.size(words), F.lit(1))
    padded = F.concat(F.lit(" "), F.lower(t), F.lit(" "))
    stop = sum(
        (_count_occurrences(padded, m) for m in LANG_MARKERS["en"]), start=F.lit(0.0)
    )
    alpha_ratio = alpha / n
    punct_ratio = punct / n
    stopword_ratio = stop / n_words
    mean_word_len = F.length(t) / n_words
    quality = F.round(
        F.least(
            F.greatest(
                alpha_ratio * 0.5
                + F.least(stopword_ratio * 2.0, F.lit(0.3))
                + F.when((mean_word_len >= 3) & (mean_word_len <= 10), 0.2).otherwise(0.0)
                - F.when(punct_ratio > 0.1, 0.2).otherwise(0.0),
                F.lit(0.0),
            ),
            F.lit(1.0),
        ),
        6,
    )
    return {
        "alpha_ratio": F.round(alpha_ratio, 6),
        "punct_ratio": F.round(punct_ratio, 6),
        "stopword_ratio": F.round(stopword_ratio, 6),
        "mean_word_len": F.round(mean_word_len, 6),
        "quality": quality,
    }


# every column repetition_stats adds — pipeline steps that use it as a
# pure filter drop exactly this set so signals never leak into the kept
# schema
REPETITION_COLUMNS: tuple[str, ...] = (
    "unigram_rep", "bigram_rep", "dup_line_frac", "dup_para_frac",
    "dup_line_char_frac", "dup_para_char_frac",
    "top2_char_frac", "top3_char_frac", "top4_char_frac",
    "dup5_char_frac", "dup10_char_frac",
    "rep_ngram_pass", "rep_dup_pass", "repetitive",
)


def repetition_stats(
    df: DataFrame, text_col: str = "text", flag_threshold: float = 0.2
) -> DataFrame:
    """Gopher-style intra-document repetition signals:

    - ``unigram_rep`` — fraction of duplicated word tokens
      (1 − distinct/total; pure expressions, codegen),
    - ``bigram_rep``  — fraction of duplicated word bigrams (Arrow numpy
      over positional gram hashes — texthash.ngram_coverage_udf),
    - ``dup_line_frac`` / ``dup_para_frac`` — fraction of duplicated
      non-empty lines / non-blank paragraphs (array_remove/filter +
      array_distinct over a materialized split, codegen'd),
    - ``dup_line_char_frac`` / ``dup_para_char_frac`` — fraction of
      line/paragraph characters on occurrences of duplicated values
      (Gopher's character-fraction variants),
    - ``top{2,3,4}_char_frac`` — fraction of content characters covered
      by the most frequent word n-gram (Gopher "most common n-gram"
      rules; 0 when nothing repeats),
    - ``dup{5,10}_char_frac`` — fraction of content characters inside
      duplicated n-grams, each position counted once (Gopher "duplicate
      n-gram" rules at the two threshold extremes),
    - ``rep_ngram_pass`` — the published Gopher n-gram thresholds
      (top2 ≤ .20, top3 ≤ .18, top4 ≤ .16, dup5 ≤ .15, dup10 ≤ .10),
    - ``rep_dup_pass`` — the published Gopher line/paragraph thresholds
      (dup line/para frac ≤ .30, dup line/para char frac ≤ .20); the
      full Gopher repetition verdict is rep_ngram_pass AND rep_dup_pass,
    - ``repetitive``  — unigram or bigram ratio above ``flag_threshold``
      (the boilerplate/spam drop signal; the line/para signals are
      reported but deliberately not folded into the flag — line-level
      POLICY belongs to the corpus-level boilerplate operator).

    The char-coverage fractions + bigram_rep share ONE Arrow hop
    (texthash.ngram_coverage_udf) over JVM-computed hash/length arrays
    of tokens, lines, and paragraphs — each split materialized once;
    everything else is codegen'd expressions.
    """
    out = df
    for stage in _repetition_stages(text_col, flag_threshold):
        out = out.withColumns(stage)
    return out.drop("__cov", "__toks", "__lines", "__paras")


@per_context
def _repetition_stages(
    text_col: str, flag_threshold: float
) -> tuple[dict[str, Column], ...]:
    """repetition_stats' columns, one dict per dependent stage (helper
    columns ``__toks``/``__lines``/``__paras``/``__cov`` are dropped by
    the caller)."""
    from validate_xml_rust_spark.functions.texthash import (
        ngram_coverage_udf,
        tokens,
    )

    t = F.coalesce(F.col(text_col), F.lit(""))
    # tokenize ONCE into a plain attribute: the filter-HOF inside
    # tokens() is interpreted and CollapseProject won't dedupe it, so
    # referencing tokens(t) from each consumer would run the split 3×
    words = F.col("__toks")
    n = F.size(words)
    uni = F.when(
        n > 0, F.round(1.0 - F.size(F.array_distinct(words)) / n, 6)
    ).otherwise(F.lit(0.0))
    lines = F.col("__lines")
    nl = F.size(lines)
    dup_lines = F.when(
        nl > 0, F.round(1.0 - F.size(F.array_distinct(lines)) / nl, 6)
    ).otherwise(F.lit(0.0))
    paras = F.col("__paras")
    npar = F.size(paras)
    dup_paras = F.when(
        npar > 0, F.round(1.0 - F.size(F.array_distinct(paras)) / npar, 6)
    ).otherwise(F.lit(0.0))

    def _h(col: Column) -> Column:
        return F.transform(col, lambda x: F.xxhash64(x))

    def _l(col: Column) -> Column:
        return F.transform(col, lambda x: F.length(x).cast("int"))

    def _cov(field: str) -> Column:
        return F.round(F.col(f"__cov.{field}"), 6)

    return (
        {
            "__toks": tokens(t),
            "__lines": F.array_remove(F.split(t, "\n"), ""),
            "__paras": F.filter(
                F.split(t, r"\n{2,}"), lambda x: F.length(F.trim(x)) > 0
            ),
        },
        {
            "__cov": ngram_coverage_udf(
                _h(words), _l(words), _h(lines), _l(lines),
                _h(paras), _l(paras),
            ),
        },
        {
            "unigram_rep": uni,
            "bigram_rep": _cov("bigram_rep"),
            "dup_line_frac": dup_lines,
            "dup_para_frac": dup_paras,
            "dup_line_char_frac": _cov("dup_line_char"),
            "dup_para_char_frac": _cov("dup_para_char"),
            "top2_char_frac": _cov("top2"),
            "top3_char_frac": _cov("top3"),
            "top4_char_frac": _cov("top4"),
            "dup5_char_frac": _cov("dup5"),
            "dup10_char_frac": _cov("dup10"),
        },
        {
            "rep_ngram_pass": (F.col("top2_char_frac") <= 0.20)
            & (F.col("top3_char_frac") <= 0.18)
            & (F.col("top4_char_frac") <= 0.16)
            & (F.col("dup5_char_frac") <= 0.15)
            & (F.col("dup10_char_frac") <= 0.10),
            "rep_dup_pass": (F.col("dup_line_frac") <= 0.30)
            & (F.col("dup_para_frac") <= 0.30)
            & (F.col("dup_line_char_frac") <= 0.20)
            & (F.col("dup_para_char_frac") <= 0.20),
            "repetitive": (F.col("unigram_rep") > flag_threshold)
            | (F.col("bigram_rep") > flag_threshold),
        },
    )


def doc_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stable document fingerprints:

    - ``fp_md5``   — md5 of whitespace-normalized lowercase text (exact id)
    - ``fp_roll``  — 64-bit rolling-style hash (xxhash64 of the normalized
      text — the Spark-native stand-in for a Karp-Rabin rolling hash; at
      scale the win is identical: one long per doc, shuffle-friendly)
    """
    norm = F.lower(F.regexp_replace(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+", " "))
    return df.withColumn("fp_md5", F.md5(norm)).withColumn(
        "fp_roll", F.xxhash64(norm)
    )

def _bigram_structs(tok_col: Column) -> Column:
    """Positional word bigrams of a token-array column as
    ``array<struct<w1,bg>>`` (w1 = left word, bg = "w1 w2") — empty
    array below 2 tokens. ``tok_col`` MUST be a plain attribute (a
    materialized column, not the tokens() expression tree): the HOF
    lambda references it once per element, and an embedded expression
    would re-run the whole tokenize per element — O(len²) interpreted
    (measured 18× on the text_metrics suite; same trap as the BPE
    chunking note). The sequence is guarded: Spark's sequence(1, 0)
    counts DOWN, so the unguarded form would fabricate bigrams for
    1-token docs."""
    n = F.size(tok_col)
    idx = F.sequence(F.lit(2), n)
    pairs = F.transform(
        idx,
        lambda i: F.struct(
            F.element_at(tok_col, i - 1).alias("w1"),
            F.concat_ws(
                " ", F.element_at(tok_col, i - 1), F.element_at(tok_col, i)
            ).alias("bg"),
        ),
    )
    return F.when(n >= 2, pairs).otherwise(
        F.array().cast("array<struct<w1:string,bg:string>>")
    )


def _bigram_strings(tok_col: Column) -> Column:
    """Positional word bigrams as a plain ``array<string>`` of
    ``"w1 w2"`` grams — the r7 fast twin of ``_bigram_structs``
    (which stays as the parity reference). Emitting only the gram
    string halves the interpreted per-element work (no struct build,
    two ``element_at`` instead of three); the left word is recovered
    AFTER the explode in codegen via ``substring_index(bg, ' ', 1)``,
    which is EXACT because ``tokens()`` yields non-empty ``[a-z0-9]+``
    runs — no token contains a space, so the first space in ``bg``
    terminates ``w1`` precisely (parity pinned by
    ``test_bigram_strings_match_structs``; measured −30% on the full
    lm_perplexity query at 1M pages). Same constraints as the struct
    twin: ``tok_col`` MUST be a plain attribute, and the sequence is
    guarded against the 1-token count-down fabrication."""
    n = F.size(tok_col)
    idx = F.sequence(F.lit(2), n)
    bgs = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", F.element_at(tok_col, i - 1), F.element_at(tok_col, i)
        ),
    )
    return F.when(n >= 2, bgs).otherwise(F.array().cast("array<string>"))


def lm_perplexity(
    df: DataFrame,
    ref: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ref_text_col: str = "text",
    alpha: float = 0.1,
    broadcast_ref: bool = True,
) -> DataFrame:
    """Language-model quality signal, the CCNet shape (Wenzek et al.
    2019 — public recipe: train a KenLM 5-gram on Wikipedia, bucket web
    documents by perplexity; here the model is an add-α-smoothed BIGRAM
    LM trained on ``ref``, an honest simplification with the identical
    scoring/filtering contract):

        p(w2|w1) = (c(w1 w2) + α) / (c(w1) + α·V)

    with c(·) counts over the reference corpus and V = reference vocab
    size — OOV-safe by construction (an unseen bigram over an unseen
    left word scores α/(α·V)). Output: one row per input doc —
    ``(id_col, n_bigrams, log_ppl)`` where log_ppl = mean negative
    natural-log likelihood per bigram rounded to 6dp (lower = more
    reference-like); NULL for docs with <2 tokens.

    Scale shape: the reference reduces ONCE to two count maps (uniform
    gram-string keys). With ``broadcast_ref=True`` (the CCNet regime —
    reference LMs come from bounded curated corpora) both maps broadcast
    and the doc side is a narrow explode + two BroadcastHashJoins + one
    groupBy(id); with False the joins shuffle on the uniform gram key.
    V rides the plan as a broadcast one-row aggregate (no eager driver
    job at plan-build time)."""
    from validate_xml_rust_spark.functions.texthash import tokens

    rg = ref.select(tokens(F.col(ref_text_col)).alias("__w")).select(
        F.explode(_bigram_strings(F.col("__w"))).alias("bg")
    )
    c2 = rg.groupBy("bg").agg(F.count(F.lit(1)).alias("__c2"))
    ru = ref.select(F.explode(tokens(F.col(ref_text_col))).alias("w1"))
    c1 = ru.groupBy("w1").agg(F.count(F.lit(1)).alias("__c1"))
    # V rides the plan as a broadcast one-row aggregate — a driver-side
    # c1.count() here would launch an eager job at plan-BUILD time and
    # make the reference tokenize+aggregate execute a third time
    vfr = F.broadcast(c1.agg(F.count(F.lit(1)).alias("__V")))
    if broadcast_ref:
        c2, c1 = F.broadcast(c2), F.broadcast(c1)
    d = (
        df.select(
            F.col(id_col).alias("__id"),
            tokens(F.col(text_col)).alias("__w"),
        )
        .select("__id", F.explode(_bigram_strings(F.col("__w"))).alias("bg"))
        .select(
            "__id",
            F.substring_index(F.col("bg"), " ", 1).alias("w1"),
            "bg",
        )
    )
    logp = F.log(
        (F.coalesce(F.col("__c2"), F.lit(0)) + F.lit(float(alpha)))
        / (
            F.coalesce(F.col("__c1"), F.lit(0))
            + F.lit(float(alpha)) * F.col("__V").cast("double")
        )
    )
    scored = (
        d.join(c2, "bg", "left")
        .join(c1, "w1", "left")
        .crossJoin(vfr)
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(-F.avg(logp), 6).alias("log_ppl"),
        )
    )
    return (
        df.select(F.col(id_col))
        .join(scored.withColumnRenamed("__id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.col("log_ppl").cast("double").alias("log_ppl"),
        )
    )


# every column c4_rules adds (pipeline drop-list; see REPETITION_COLUMNS)
C4_COLUMNS: tuple[str, ...] = (
    "c4_text", "c4_lines_total", "c4_lines_kept",
    "c4_has_lorem", "c4_has_brace", "c4_pass",
)


def c4_rules(
    df: DataFrame,
    text_col: str = "text",
    min_words_per_line: int = 5,
    min_lines: int = 3,
) -> DataFrame:
    """C4 cleaning rule pack (Raffel et al. 2020 §2.2 — the public
    colossal-clean-crawled-corpus recipe, reused by Dolma/RefinedWeb
    reproductions), as line-level rewrite + page-level gate:

    line-level (kept lines are rebuilt into ``c4_text``, newline-joined,
    original order):
    - keep only lines ending in terminal punctuation (. ! ? ")
    - keep only lines with ≥ ``min_words_per_line`` whitespace words
    - drop lines containing the word "javascript" (case-insensitive)

    page-level signals + gate:
    - ``c4_lines_total`` / ``c4_lines_kept`` — non-empty lines before
      and after the line rules
    - ``c4_has_lorem``  — page contains "lorem ipsum" (case-insensitive)
    - ``c4_has_brace``  — page contains "{" (code marker)
    - ``c4_pass``       — no lorem/brace and ≥ ``min_lines`` kept lines
      (the paper's ≥3-sentence rule at line granularity)

    Scale shape: one materialized line split (plain attribute — the HOF
    lambdas reference elements only), one filter pass with three cheap
    per-line predicates, page flags as codegen'd contains(); zero
    shuffle, zero Python. The predicates avoid lookarounds so the
    DuckDB oracle restates them verbatim under RE2."""
    out = df
    for stage in _c4_stages(text_col, min_words_per_line, min_lines):
        out = out.withColumns(stage)
    return out.drop("__lines", "__kept")


@per_context
def _c4_stages(
    text_col: str, min_words_per_line: int, min_lines: int
) -> tuple[dict[str, Column], ...]:
    """c4_rules' columns, one dict per dependent stage (``__lines`` and
    ``__kept`` are dropped by the caller)."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    return (
        {"__lines": F.array_remove(F.split(t, "\n"), "")},
        {"__kept": c4_kept_lines(F.col("__lines"), min_words_per_line)},
        {
            "c4_text": F.array_join(F.col("__kept"), "\n"),
            "c4_lines_total": F.size("__lines").cast("long"),
            "c4_lines_kept": F.size("__kept").cast("long"),
            "c4_has_lorem": F.lower(t).contains("lorem ipsum"),
            "c4_has_brace": t.contains("{"),
        },
        {
            "c4_pass": ~F.col("c4_has_lorem")
            & ~F.col("c4_has_brace")
            & (F.col("c4_lines_kept") >= min_lines),
        },
    )


def c4_kept_lines(lines: Column, min_words_per_line: int = 5) -> Column:
    """The C4 line filter over a non-empty-lines array column: keep
    lines ending in terminal punctuation, with ≥ min_words words, not
    mentioning "javascript". ``lines`` should be a plain attribute when
    the result is consumed more than once (materialize the split
    first — c4_rules does)."""
    return F.filter(
        lines,
        lambda x: x.rlike('[.!?"]\\s*$')
        & (F.size(F.filter(F.split(x, r"\s+"), lambda w: F.length(w) > 0))
           >= min_words_per_line)
        & ~F.lower(x).contains("javascript"),
    )


def perplexity_buckets(
    df: DataFrame,
    ref: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ref_text_col: str = "text",
    group_col: str | None = None,
    alpha: float = 0.1,
    broadcast_ref: bool = True,
    cuts: tuple[float, float] = (1.0 / 3.0, 2.0 / 3.0),
    handles: dict | None = None,
) -> DataFrame:
    """CCNet head/middle/tail perplexity bucketing (Wenzek et al. 2019
    §4.3 — the public recipe splits each language's corpus into three
    equal buckets by LM perplexity; "head" is the most reference-like
    third, and downstream consumers pick buckets instead of a hard
    threshold). Scores via ``lm_perplexity``, then buckets each doc
    against its group's (``group_col``, e.g. language) exact log_ppl
    terciles: ``ppl_bucket`` ∈ head/middle/tail, NULL for unscorable
    docs (<2 tokens). Output: ``(id_col[, group_col], n_bigrams,
    log_ppl, ppl_bucket)``.

    Determinism: cut points are exact interpolating percentiles over
    the 6dp-rounded scores, themselves rounded 6dp, so bucket
    membership is reproducible across engines (Spark ``percentile`` ==
    DuckDB ``quantile_cont``). A NULL ``group_col`` row never equi-joins
    its cuts and lands in 'tail' — give NULL groups a label upstream if
    they matter.

    Scale shape: scoring is the lm_perplexity plan (broadcast count
    maps, no corpus shuffle); the scored table (id, group, 2 numbers —
    narrow) is persist()ed because BOTH the tercile aggregate and the
    final bucket projection consume it — without the persist the whole
    scoring subtree would execute twice. Callers own the cache
    lifetime: pass ``handles`` to receive ``handles['scores']`` (the
    persisted frame) and unpersist once a downstream action has
    materialized (the curate step does; the bench sweeps between
    timings). The cuts are
    one exact-percentile aggregate per group over 6dp-ROUNDED scores —
    bounded distinct values per group (≤ ~3·10⁷ for any realistic
    log_ppl range), so the per-group percentile map stays small even
    at 10^12 docs; the cut table (n_groups × 2 doubles) broadcasts
    back."""
    scores = lm_perplexity(
        df, ref, id_col=id_col, text_col=text_col,
        ref_text_col=ref_text_col, alpha=alpha,
        broadcast_ref=broadcast_ref,
    )
    grouping = [group_col] if group_col else []
    if group_col:
        # attach the group INSIDE the persisted subtree: one narrow
        # id-keyed join, paid once — not a third corpus scan after
        scores = scores.join(df.select(id_col, group_col), id_col)
    scores = scores.persist()
    if handles is not None:
        handles["scores"] = scores
    cut = scores.groupBy(*grouping).agg(
        F.round(F.expr(f"percentile(log_ppl, {cuts[0]!r})"), 6).alias("__t1"),
        F.round(F.expr(f"percentile(log_ppl, {cuts[1]!r})"), 6).alias("__t2"),
    )
    joined = (
        scores.join(F.broadcast(cut), grouping, "left")
        if grouping
        else scores.crossJoin(F.broadcast(cut))
    )
    bucket = (
        F.when(F.col("log_ppl").isNull(), F.lit(None).cast("string"))
        .when(F.col("log_ppl") <= F.col("__t1"), F.lit("head"))
        .when(F.col("log_ppl") <= F.col("__t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return joined.select(
        id_col, *grouping, "n_bigrams", "log_ppl",
        bucket.alias("ppl_bucket"),
    )


# Gopher rule-pack stop-word list (Rae et al. 2021, Appendix A1.1 —
# "contains at least 2 of" these; public recipe, reused by MassiveText /
# Dolma / RefinedWeb reproductions).
GOPHER_STOPWORDS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """Gopher quality rule pack (Rae et al. 2021, Appendix A1.1) as ONE
    declarative preset: per-rule signals plus a composite ``gopher_pass``.
    The reference's analog is the fixed schema-check battery applied to
    every file (src/validator.rs:96-107) — here the battery is the
    published web-text quality heuristics:

    - ``g_n_words``       whitespace word count; rule: in [min, max]
    - ``g_mean_wl``       non-whitespace chars / word; rule: in [3, 10]
    - ``g_symbol_ratio``  (# + ellipsis occurrences) / word; rule: ≤ 0.1
    - ``g_bullet_frac``   lines starting with a bullet; rule: ≤ 0.9
    - ``g_ellipsis_frac`` lines ending with an ellipsis; rule: ≤ 0.3
    - ``g_alpha_frac``    words containing a letter; rule: ≥ 0.8
    - ``g_stop_hits``     distinct GOPHER_STOPWORDS present; rule: ≥ 2
    - ``gopher_pass``     AND of all seven rules

    Scale shape: every signal is a codegen'd single-pass regexp_count /
    rlike over the text — NO higher-order array functions (interpreted,
    per-element regex — measured ~6× slower) and no materialized token
    arrays; zero shuffle, zero Python. At 10^12 pages the operator is
    scan-bound and composes with any filter pushdown. NULL text behaves
    as empty (fails the word-count and stop-word rules, ratios 0)."""
    return df.withColumns(gopher_signals(text_col, min_words, max_words))


@per_context
def gopher_signals(
    text: Column | str,
    min_words: int = 50,
    max_words: int = 100_000,
) -> dict[str, Column]:
    """Expression builder behind gopher_rules (and the ``gopher`` spec
    constraint kind): the seven rule signals plus the composite, keyed
    by output column name, every one a codegen'd regexp_count/rlike
    expression over ``text`` (built once per session when ``text`` is a
    column name)."""
    if isinstance(text, str):
        text = F.col(text)
    t = F.coalesce(text, F.lit(""))
    # count-of-runs formulations (identical semantics to split+filter,
    # but whole-stage-codegen regex scans instead of interpreted HOFs).
    # Single-char and literal-substring counts avoid regex entirely:
    # translate (a char map) and replace (an indexOf loop) cost a
    # fraction of a java.util.regex scan — swapping them in measured
    # 2.4× on the full signal set at 1M pages (18.5 s → 7.6 s),
    # byte-identical outputs verified row-by-row.
    nw = F.regexp_count(t, F.lit(r"\S+"))
    nw1 = F.greatest(nw, F.lit(1))
    # Java \s is exactly [ \t\n\x0B\f\r] (no UNICODE_CHARACTER_CLASS)
    nonws = F.length(F.translate(t, " \t\n\r\f\x0b", ""))
    mean_wl = F.round(nonws / nw1, 6)
    # the three symbol patterns can't overlap, so the fused-alternation
    # count equals the sum of three independent literal counts
    cnt_hash = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    cnt_dots = (
        F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))
    ) / 3
    cnt_ell = F.length(t) - F.length(F.translate(t, "…", ""))
    symbols = cnt_hash + cnt_dots.cast("long") + cnt_ell
    symbol_ratio = F.round(symbols / nw1, 6)
    nl1 = (
        F.length(t) - F.length(F.replace(t, F.lit("\n"), F.lit("")))
    ) + F.lit(1)
    # (?m): ^/$ anchor per line; [ \t] (not \s) so a match never spans
    # lines; the $-anchor admits at most one ellipsis match per line
    bullet_frac = F.round(
        F.regexp_count(t, F.lit(r"(?m)^[ \t]*[-*•]")) / nl1, 6
    )
    ellipsis_frac = F.round(
        F.regexp_count(t, F.lit(r"(?m)(\.\.\.|…)[ \t]*$")) / nl1, 6
    )
    # one match per whitespace-delimited token containing a letter. The
    # leading (^|\s) pins candidate starts to token boundaries so
    # token-interior positions fail in O(1) — the naive \S*[A-Za-z]\S*
    # backtracks O(len²) on long letter-free runs (numeric soup)
    alpha_frac = F.round(
        F.regexp_count(t, F.lit(r"(^|\s)[^\sA-Za-z]*[A-Za-z]\S*")) / nw1, 6
    )
    # presence of each stop word as a maximal [a-z0-9] run: one regex
    # pass normalizes every separator run to a single space, then the 8
    # probes are literal indexOf searches instead of 8 boundary-regex
    # scans (part of the 2.4× above)
    lt = F.concat(
        F.lit(" "),
        F.regexp_replace(F.lower(t), r"[^a-z0-9]+", " "),
        F.lit(" "),
    )
    stop_hits = sum(
        (
            F.contains(lt, F.lit(f" {sw} ")).cast("int")
            for sw in GOPHER_STOPWORDS
        ),
        start=F.lit(0),
    ).cast("long")
    sig: dict[str, Column] = {
        "g_n_words": nw.cast("long"),
        "g_mean_wl": mean_wl,
        "g_symbol_ratio": symbol_ratio,
        "g_bullet_frac": bullet_frac,
        "g_ellipsis_frac": ellipsis_frac,
        "g_alpha_frac": alpha_frac,
        "g_stop_hits": stop_hits,
    }
    sig["gopher_pass"] = (
        sig["g_n_words"].between(min_words, max_words)
        & sig["g_mean_wl"].between(3.0, 10.0)
        & (sig["g_symbol_ratio"] <= 0.1)
        & (sig["g_bullet_frac"] <= 0.9)
        & (sig["g_ellipsis_frac"] <= 0.3)
        & (sig["g_alpha_frac"] >= 0.8)
        & (sig["g_stop_hits"] >= 2)
    )
    return sig


# --- trainable hashed char-n-gram language identifier -------------------


def _char_gram_buckets(
    df: DataFrame,
    text_col: str,
    carry: dict[str, Column],
    ns: tuple[int, ...],
    n_buckets: int,
    seed: str,
) -> DataFrame:
    """One row per char n-gram OCCURRENCE of ``text_col`` (lowercased;
    grams span word boundaries — spaces included, the fastText-style
    feature space without boundary markers), with its md5-derived feature
    bucket ``b`` in [0, n_buckets) — md5 (not xxhash64) so the DuckDB
    oracle recomputes the identical bucket (curation.sample_ticket).

    Extraction is two Generate nodes + plain projections — NO
    higher-order-function lambdas: a position-explode, then
    ``substr(__t, p, n)`` per n gathered by a second explode. Beyond
    staying in whole-stage codegen, this dodges a real corruption
    hazard: when the input text column is itself built from nested
    ``transform`` lambdas (the synthetic corpus generators),
    CollapseProject inlines that expression tree INTO an outer HOF
    lambda and the nested lambda variables collide — measured producing
    empty and whole-document "grams". Generate is a projection barrier;
    plain ``substr`` over attributes cannot capture anything.
    ``sequence(1, 0)`` would generate DESCENDING [1, 0], so the position
    end is clamped to ≥1 and out-of-range grams are NULL-filtered."""
    from validate_xml_rust_spark.operators.curation import sample_ticket

    names = list(carry)
    base = df.select(
        *[c.alias(name) for name, c in carry.items()],
        F.lower(F.coalesce(F.col(text_col), F.lit(""))).alias("__t"),
    )
    pos = base.select(
        *names,
        "__t",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.length("__t") - (min(ns) - 1), F.lit(1)))
        ).alias("__p"),
    )
    per_n = [
        F.when(
            F.col("__p") <= F.length("__t") - (n - 1),
            F.col("__t").substr(F.col("__p"), F.lit(n)),
        )
        for n in ns
    ]
    return (
        pos.select(*names, F.explode(F.array(*per_n)).alias("__g"))
        .filter(F.col("__g").isNotNull())
        .select(
            *names,
            (sample_ticket(F.col("__g"), seed) % F.lit(n_buckets)).alias("b"),
        )
    )


def langid_train(
    df: DataFrame,
    lang_col: str = "lang",
    text_col: str = "text",
    ns: tuple[int, ...] = (3, 4, 5),
    n_buckets: int = 65536,
    alpha: float = 1.0,
    seed: str = "langid",
) -> DataFrame:
    """Train the hashed char-n-gram language identifier (the fastText /
    langid.py feature space — Joulin et al. 2016, public recipe — with
    closed-form multinomial weights so training is deterministic and
    SQL-restatable, no SGD): for every feature bucket seen in training
    and every language,

        w[b, lang] = ln( (c[b, lang] + α) / (c[b, ·] + α·L) )

    — the add-α language posterior of the bucket. Normalizing over
    LANGUAGES per bucket (not over buckets per language) makes a bucket
    never seen in training a constant ln(1/L) for every language, so the
    scorer can SKIP unmatched grams without shifting the argmax — and
    unequal per-language corpus sizes never leak through missing rows.

    Returns ``(b, lang, w DECIMAL(18,9))`` — ≤ n_buckets·L rows,
    broadcastable; weights in DECIMAL so both engines sum them exactly
    (double sums are addition-order-dependent; the argmax must not flip
    on a near-tie). Scale shape: ONE gram_bucket_counts pass (per-task
    (lang, b) partials + an exact sum), a per-bucket total join, and the
    language count riding the plan as a broadcast one-row aggregate."""
    # Gram counting runs in the Arrow partial-count kernel (identical
    # counts, ~occurrence-count fewer shuffled rows); `_char_gram_buckets`
    # remains the expression-path reference twin, parity-tested.
    ns_t = tuple(int(n) for n in ns)
    cnt = gram_bucket_counts(
        df.filter(F.col(lang_col).isNotNull()),
        F.lower(F.coalesce(F.col(text_col), F.lit(""))),
        partial(char_grams, ns=ns_t),
        n_buckets, seed, key=F.col(lang_col),
    ).withColumnRenamed("__k", "__l")
    tot = cnt.groupBy("b").agg(F.sum("__c").alias("__tot"))
    langs = df.select(F.col(lang_col).alias("__l")).filter(
        F.col("__l").isNotNull()
    ).distinct()
    nl = F.broadcast(langs.agg(F.count(F.lit(1)).alias("__nl")))
    a = float(alpha)
    w = (
        tot.crossJoin(F.broadcast(langs))
        .join(cnt, ["b", "__l"], "left")
        .crossJoin(nl)
        .select(
            "b",
            F.col("__l").alias("lang"),
            F.round(
                F.log(
                    (F.coalesce(F.col("__c"), F.lit(0)) + F.lit(a))
                    / (F.col("__tot") + F.lit(a) * F.col("__nl"))
                ),
                9,
            )
            .cast("decimal(18,9)")
            .alias("w"),
        )
    )
    return w


def langid_predict(
    df: DataFrame,
    weights: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "detected_lang",
    ns: tuple[int, ...] = (3, 4, 5),
    n_buckets: int = 65536,
    seed: str = "langid",
) -> DataFrame:
    """Score every document against the trained weight table and predict
    the argmax language (ANSI-safe two-aggregate argmax: max DECIMAL
    score, then the alphabetically-first language among exact ties —
    never struct(-id)/max_by, per the repo rule). Docs with NO matched
    gram (empty/NULL text, or every gram in a bucket unseen at training)
    get ``'und'``.

    Scale shape: the weight table is PIVOTED to one row per bucket
    (``(b, w_lang1..w_langL)``) before the join, so each gram occurrence
    joins exactly ONE broadcast row instead of fanning out L× into the
    aggregate: L× fewer aggregate hash-table probes (the L DECIMAL adds
    ride one probe), and the argmax needs no second join — it is a
    codegen column-argmax (greatest + first-true WHEN chain over the
    alphabetically-sorted languages, the same exact-tie rule as the
    two-aggregate form, no max_by). At L=5 / 150-char docs the gram
    explode + md5 ticket dominate and wall time is unchanged; the pivot
    is the right shape for larger L and longer documents. DECIMAL
    addition is exact and order-independent, so the pivoted sums equal
    the per-(id, lang) sums the oracle restates, bit for bit. The
    language list is collected driver-side — bounded by L, never by
    corpus size."""
    # r7 fast path (guide §4.2): the weight table is collected ONCE to the
    # driver as an int64 matrix of 1e9-scaled weights — DECIMAL(18,9) →
    # unscaled int64 is EXACT, and int64 sums are exact and
    # order-independent, so the per-doc scores (and every tie) equal the
    # DECIMAL sums bit for bit. Scoring is then one Arrow pass per row
    # (grams sliced + md5-memoized buckets + one fancy-index matmul row
    # sum), a per-id integer-sum aggregate for the dup-id blend, and the
    # same first-tie-ascending argmax — no gram explode, no 65k-row
    # broadcast pivot, no per-occurrence join. Falls back to the
    # expression path for weight frames langid_train did not produce
    # (incomplete bucket rows / non-9dp weights).
    import numpy as np

    wl = weights.select("b", "lang", "w").toPandas()
    langs = sorted(set(wl["lang"].tolist()))
    if not langs:
        return df.withColumn(out_col, F.lit("und"))
    L = len(langs)
    lidx = {lang: j for j, lang in enumerate(langs)}
    uniq_b = sorted(set(int(x) for x in wl["b"].tolist()))
    brow = {b: r for r, b in enumerate(uniq_b)}
    wmat = np.zeros((len(uniq_b), L), dtype=np.int64)
    seen = np.zeros((len(uniq_b), L), dtype=bool)
    exact = True
    for bb, ll, ww in zip(wl["b"], wl["lang"], wl["w"]):
        if ww is None:
            exact = False
            break
        scaled = ww.scaleb(9)
        if scaled != int(scaled):
            exact = False
            break
        r, j = brow[int(bb)], lidx[ll]
        if seen[r, j]:  # duplicate (b, lang) rows — ambiguous, fall back
            exact = False
            break
        wmat[r, j] = int(scaled)
        seen[r, j] = True
    if not exact or not seen.all():
        return _langid_predict_exprs(
            df, weights, langs, id_col, text_col, out_col, ns, n_buckets,
            seed,
        )

    ns_t = tuple(int(n) for n in ns)
    nb = int(n_buckets)
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = "__id " + id_type + ", __m0 long, " + ", ".join(
        f"__e{j} long" for j in range(L)
    )

    # mapInPandas, not a scalar pandas UDF: MapInPandas is a projection
    # BARRIER. The gate feeds this operator the in-memory multilingual
    # generator frame, whose text column is a nested-transform-lambda
    # expression tree — a scalar PythonUDF directly over that tree is
    # never extracted into an ArrowEvalPython node (observed
    # INTERNAL_ERROR "cannot evaluate/generate code for expression:
    # score(...)"), the same lambda-inlining hazard _char_gram_buckets
    # documents and dodges with its Generate barrier.
    def score_part(it):
        for pdf in it:
            ids = pdf["__id"]
            res = np.zeros((len(pdf), L + 1), dtype=np.int64)
            for k, text in enumerate(pdf["__t"]):
                rows = [
                    r
                    for r in map(
                        brow.get, bucket_ids(char_grams(text, ns_t), seed, nb)
                    )
                    if r is not None
                ]
                if rows:
                    res[k, 0] = len(rows)
                    res[k, 1:] = wmat[np.asarray(rows, dtype=np.int64)].sum(
                        axis=0, dtype=np.int64
                    )
            out = pd.DataFrame(res, columns=["__m0"] + [f"__e{j}" for j in range(L)])
            out.insert(0, "__id", ids.to_numpy())
            yield out

    g = df.select(
        F.col(id_col).alias("__id"),
        F.lower(F.coalesce(F.col(text_col), F.lit(""))).alias("__t"),
    ).mapInPandas(score_part, out_schema)
    # per-id sum: dup-id rows blend into one bag exactly as the exploded
    # path's groupBy(__id) did (int sums are associative/exact); docs
    # with zero MATCHED grams (no row in the old inner join) drop here
    sums = (
        g.groupBy("__id")
        .agg(
            F.sum(F.col("__m0")).alias("__m"),
            *[F.sum(F.col(f"__e{j}")).alias(f"__s{j}") for j in range(L)],
        )
        .filter(F.col("__m") > 0)
    )
    scols = [f"__s{j}" for j in range(L)]
    mx = (
        F.greatest(*[F.col(c) for c in scols]) if L > 1 else F.col(scols[0])
    )
    expr = None
    for lang, c in zip(langs, scols):  # ascending → first tie wins
        cond = F.col(c) == F.col("__mx")
        expr = (
            F.when(cond, F.lit(lang))
            if expr is None
            else expr.when(cond, F.lit(lang))
        )
    pred = sums.withColumn("__mx", mx).select("__id", expr.alias("__pred"))
    return df.join(
        pred, df[id_col] == F.col("__id"), "left"
    ).select(
        *[df[c] for c in df.columns],
        F.coalesce(F.col("__pred"), F.lit("und")).alias(out_col),
    )


def _langid_predict_exprs(
    df: DataFrame,
    weights: DataFrame,
    langs: list,
    id_col: str,
    text_col: str,
    out_col: str,
    ns: tuple[int, ...],
    n_buckets: int,
    seed: str,
) -> DataFrame:
    """Pre-r7 expression scoring path (pivoted broadcast weights over the
    exploded gram stream) — kept as the fallback for weight frames not
    shaped like langid_train's output, and as the parity-test twin of
    the Arrow fast path."""
    wcols = [f"__w_{i}" for i in range(len(langs))]
    # toDF, not select: lang values are data (could contain dots or
    # backticks a col() reference would parse)
    wp = (
        weights.groupBy("b")
        .pivot("lang", langs)
        .agg(F.first("w"))
        .toDF("b", *wcols)
    )
    g = _char_gram_buckets(
        df, text_col, {"__id": F.col(id_col)}, ns, n_buckets, seed
    )
    sums = (
        g.join(F.broadcast(wp), "b")
        .groupBy("__id")
        .agg(*[F.sum(c).alias(c) for c in wcols])
    )
    mx = F.greatest(*[F.col(c) for c in wcols]) if len(wcols) > 1 else F.col(wcols[0])
    pick = F
    expr = None
    for lang, c in zip(langs, wcols):  # ascending → first tie wins
        cond = F.col(c) == F.col("__mx")
        expr = pick.when(cond, F.lit(lang)) if expr is None else expr.when(
            cond, F.lit(lang)
        )
    pred = sums.withColumn("__mx", mx).select("__id", expr.alias("__pred"))
    return df.join(
        pred, df[id_col] == F.col("__id"), "left"
    ).select(
        *[df[c] for c in df.columns],
        F.coalesce(F.col("__pred"), F.lit("und")).alias(out_col),
    )


# --- license signal pack (rel="license" / CC-license URL detection) -----

# first CC license URL: type (by, by-sa, by-nc-nd, ...) + version; and the
# CC0 public-domain dedication. RE2-safe (no lookaround) so the DuckDB
# oracle restates them verbatim.
CC_LICENSE_RE = r"creativecommons\.org/licenses/([a-z][a-z-]*)/([0-9]+(\.[0-9]+)?)"
CC_ZERO_RE = r"creativecommons\.org/publicdomain/zero/([0-9]+(\.[0-9]+)?)"


def license_signals(
    df: DataFrame,
    html_col: str = "html",
    allow: tuple[str, ...] | None = None,
) -> DataFrame:
    """License-detection signal pack over an HTML STRING column — the
    filter family for building permissively-licensed subsets (public
    recipe: CC-licensed crawl corpora à la C4's licensed variants; the
    rel="license" microformat is the HTML spec's license link relation).
    Binary html must first go through the engine's guarded decode
    (specs.py is_valid_utf8 gate — Spark 4 decode THROWS on malformed
    bytes).

    Adds (all pure codegen — one lowered copy, contains probes, two RE2
    regexp_extracts; the C4-pack shape):

    - ``has_license_rel`` — an element carries rel="license" (double,
      single, or no quotes);
    - ``cc_license``     — ``cc-<type>-<version>`` from the first
      creativecommons.org license URL, ``cc0-<version>`` for the
      public-domain dedication, NULL when absent;
    - ``license_ok``     — ``cc_license ∈ allow`` (only when ``allow``
      is given; NULL cc_license is never ok).
    """
    h = F.lower(F.coalesce(F.col(html_col), F.lit("")))
    rel = (
        h.contains('rel="license"')
        | h.contains("rel='license'")
        | h.contains("rel=license")
    )
    cc_type = F.regexp_extract(h, CC_LICENSE_RE, 1)
    cc_ver = F.regexp_extract(h, CC_LICENSE_RE, 2)
    cc0_ver = F.regexp_extract(h, CC_ZERO_RE, 1)
    cc = (
        F.when(cc_type != "", F.concat(F.lit("cc-"), cc_type, F.lit("-"), cc_ver))
        .when(cc0_ver != "", F.concat(F.lit("cc0-"), cc0_ver))
        .otherwise(F.lit(None).cast("string"))
    )
    out = df.withColumn("has_license_rel", rel).withColumn("cc_license", cc)
    if allow is not None:
        out = out.withColumn(
            "license_ok", F.coalesce(F.col("cc_license").isin(*allow), F.lit(False))
        )
    return out


# columns license_signals adds — filter steps drop exactly this set
LICENSE_COLUMNS: tuple[str, ...] = ("has_license_rel", "cc_license", "license_ok")
