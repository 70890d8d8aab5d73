"""Trainable model-based quality scoring: a fastText-style linear
classifier over token counts (Joulin et al. 2016, "Bag of Tricks for
Efficient Text Classification" — public method).

The reference validates, it does not rank — this has no reference analog;
it extends the engine's heuristic quality family
(operators/textstats.py:quality_score) with the trainable scorer a
pretraining curation pipeline actually uses (quality-classifier filtering
à la GPT-3/CCNet data curation).

Scale shape (the 100 TB story):
- **training** touches the corpus exactly twice, both bounded:
  (1) vocabulary = document-frequency top-k — one shuffle over one row
  per DISTINCT token, top-k planned as TakeOrdered, ``vocab_size`` rows
  collected; (2) the gradient fit runs on a DETERMINISTIC sample —
  ``orderBy(md5-ticket, id).limit(sample_cap)`` (same content-keyed
  ticket rule as curation.hash_sample, reproducible across partitionings)
  — collected as token arrays, never the corpus. The fit itself is
  driver-side numpy full-batch gradient descent: deterministic (zero
  init, fixed iterations, fixed row order), seconds at the default
  20k × 512 size.
- **scoring** is zero-shuffle: the weight map (vocab_size entries)
  broadcasts into one Arrow-batched numpy UDF — tokenize, dict-lookup,
  accumulate, one pass, no joins. The expression path
  (``score_quality_expr``: explode → broadcast join → DECIMAL-exact sum)
  exists for the DuckDB oracle gate and cross-checks the UDF in tests.

Tokenization matches the engine's established rule everywhere (JVM
``split(lower(trim(text)), '[^a-z0-9]+')``, Python ``re.split``, DuckDB
``regexp_split_to_array``) — identical on ASCII; exotic-unicode lowering
differences are out of scope for the synthetic corpora.

Gate-typing note: the gate emits the LOGIT (bias + Σ count·weight), not
the probability — summed in DECIMAL(18,9) on both engines so the value
hash is exact; sigmoid is libm-dependent in its last ulp and lives only
in the library API (monotone in the logit, so any threshold decision is
identical).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from validate_xml_rust_spark.session import local_frame

TOKEN_SPLIT = r"[^a-z0-9]+"
BIAS_TOKEN = "__bias__"
WEIGHTS_SCHEMA = "token string, weight decimal(18,9)"


def tokens_col(text_col: str) -> F.Column:
    """The engine's standard word tokenizer as a Column expression."""
    return F.filter(
        F.split(F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))), TOKEN_SPLIT),
        lambda x: F.length(x) > 0,
    )


def _tokenize_py(text) -> list[str]:
    """Python twin of tokens_col — must stay in lockstep (ASCII-identical).
    Non-str (None / NaN from an all-null Arrow batch) → no tokens."""
    if not isinstance(text, str):
        return []
    return [t for t in re.split(TOKEN_SPLIT, text.strip().lower()) if t]


@dataclass(frozen=True)
class QualityModel:
    """Token weights + bias. Weights are rounded to 9 decimal places at
    construction so the serialized (DECIMAL(18,9)) and in-memory forms
    score identically."""

    weights: dict[str, float]
    bias: float

    def to_df(self, spark: SparkSession) -> DataFrame:
        tokens = sorted(self.weights)
        return local_frame(spark, "token string, weight double", {
            "token": [BIAS_TOKEN, *tokens],
            "weight": [round(self.bias, 9), *(round(self.weights[t], 9) for t in tokens)],
        }).select(
            "token", F.col("weight").cast("decimal(18,9)").alias("weight")
        )

    @staticmethod
    def from_df(df: DataFrame) -> "QualityModel":
        rows = df.select("token", F.col("weight").cast("double")).collect()
        w = {r["token"]: r["weight"] for r in rows}
        bias = w.pop(BIAS_TOKEN, 0.0)
        return QualityModel(weights=w, bias=bias)


def train_quality_model(
    df: DataFrame,
    text_col: str = "text",
    label_col: str = "label",
    vocab_size: int = 512,
    sample_cap: int = 20_000,
    iters: int = 300,
    lr: float = 0.5,
    l2: float = 1e-3,
) -> QualityModel:
    """Fit token weights by logistic regression on binary labels
    (1 = keep-quality, 0 = drop). Deterministic end-to-end — see module
    docstring for the two bounded corpus passes."""
    base = df.select(
        F.col(label_col).cast("double").alias("__y"),
        tokens_col(text_col).alias("__t"),
        F.md5(F.coalesce(F.col(text_col), F.lit("")).cast("binary")).alias("__tk"),
    )
    # pass 1: document-frequency vocabulary (top-k over distinct tokens)
    vocab_rows = (
        base.select(F.explode(F.array_distinct("__t")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.col("df").desc(), F.col("token").asc())
        .limit(vocab_size)
        .collect()
    )
    vocab = {r["token"]: j for j, r in enumerate(vocab_rows)}
    # pass 2: deterministic capped sample, collected as token arrays.
    # Sort key is (content md5, label) — NOT a physical row id, so the
    # sample is identical across partitionings/AQE/retries; rows tying at
    # the cap boundary have equal (tokens, label), so any cut among them
    # yields the same feature matrix up to permutation of identical rows
    # (summation-order-safe: swapping equal addends preserves every
    # partial sum), hence a bitwise-identical model.
    sample = (
        base.orderBy("__tk", "__y").limit(sample_cap).select("__y", "__t").collect()
    )
    n, v = len(sample), len(vocab)
    if n == 0 or v == 0:
        return QualityModel(weights={}, bias=0.0)
    x = np.zeros((n, v), dtype=np.float64)
    y = np.empty(n, dtype=np.float64)
    for r_i, row in enumerate(sample):
        y[r_i] = row["__y"]
        for t in row["__t"]:
            j = vocab.get(t)
            if j is not None:
                x[r_i, j] += 1.0
    w = np.zeros(v, dtype=np.float64)
    b = 0.0
    for _ in range(iters):
        z = x @ w + b
        p = 1.0 / (1.0 + np.exp(-z))
        g = p - y
        w -= lr * ((x.T @ g) / n + l2 * w)
        b -= lr * float(g.mean())
    return QualityModel(
        weights={t: round(float(w[j]), 9) for t, j in vocab.items()},
        bias=round(float(b), 9),
    )


def score_quality(
    df: DataFrame,
    model: QualityModel,
    text_col: str = "text",
) -> DataFrame:
    """Zero-shuffle scoring: adds ``quality_logit`` (double) and
    ``quality_prob`` (sigmoid of the logit). The weight map broadcasts
    inside the Arrow UDF closure — one narrow pass, no joins."""
    weights = dict(model.weights)
    bias = float(model.bias)

    @F.pandas_udf("double")
    def logit(texts: pd.Series) -> pd.Series:
        out = np.empty(len(texts), dtype=np.float64)
        for k, txt in enumerate(texts):
            z = bias
            for t in _tokenize_py(txt):
                z += weights.get(t, 0.0)
            out[k] = z
        return pd.Series(out)

    scored = df.withColumn("quality_logit", logit(F.col(text_col)))
    return scored.withColumn(
        "quality_prob", F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("quality_logit")))
    )


def score_quality_expr(
    df: DataFrame,
    weights_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Expression-path scoring for the oracle gate: explode tokens →
    broadcast-join the (tiny) weights table → DECIMAL-exact sum per doc.
    Output: ``<id_col>, logit (double, 6dp), keep (logit > 0)`` — the
    keep decision compares in DECIMAL, so it is exact on both engines."""
    w = weights_df.filter(F.col("token") != BIAS_TOKEN)
    bias = (
        weights_df.filter(F.col("token") == BIAS_TOKEN)
        .select(F.col("weight").cast("decimal(18,9)"))
        .collect()
    )
    bias_dec = bias[0][0] if bias else 0
    exploded = df.select(
        F.col(id_col), F.explode(tokens_col(text_col)).alias("token")
    )
    sums = (
        exploded.join(F.broadcast(w), "token")
        .groupBy(id_col)
        .agg(F.sum("weight").alias("__sw"))
    )
    zero = F.lit(0).cast("decimal(18,9)")
    logit_dec = F.lit(bias_dec).cast("decimal(18,9)") + F.coalesce(
        F.col("__sw"), zero
    )
    return (
        df.select(id_col)
        .join(sums, id_col, "left")
        .select(
            F.col(id_col),
            F.round(logit_dec.cast("double"), 6).alias("logit"),
            (logit_dec > 0).alias("keep"),
        )
    )


def calibration_report(
    df: DataFrame,
    score_col: str = "quality_logit",
    label_col: str = "label",
    lo: float = -8.0,
    hi: float = 8.0,
    n_bins: int = 16,
) -> DataFrame:
    """Reliability table for a scored, labeled frame: scores bucketed
    into ``n_bins`` fixed bins over [lo, hi) (edge-clamped, the
    psi_numeric binning arithmetic), each bin reporting its population,
    mean score, and empirical positive rate — the table a reliability
    diagram / ECE is read from, and the evidence behind any
    threshold-picking on the quality model.

    Binning on the LOGIT (not the sigmoid) keeps the whole report in
    exact arithmetic an oracle can restate: sigmoid crosses engines with
    last-ulp libm differences, the logit is a DECIMAL-exact sum (the
    model gate's own trick). One hash aggregation on the bin key; NULL,
    NaN (engines disagree on where NaN bins — repo rule), and
    NULL-label rows are excluded (no silent zero bins). The bin label is
    drift.numeric_bin_col — the same clamped fixed-width arithmetic the
    PSI gate already cross-verifies.

    Output: ``bin bigint, n bigint, mean_score double, frac_pos double``.
    """
    from validate_xml_rust_spark.operators.drift import numeric_bin_col

    s = F.col(score_col).cast("double")
    b = numeric_bin_col(score_col, lo, hi, n_bins)
    return (
        df.filter(b.isNotNull() & F.col(label_col).isNotNull())
        .groupBy(b.cast("long").alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg(s), 6).alias("mean_score"),
            F.round(
                F.avg(F.col(label_col).cast("double")), 6
            ).alias("frac_pos"),
        )
    )
