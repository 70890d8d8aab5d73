"""Distribution-drift checks: per-partition KS / chi-square against baseline
(north_star: "distribution-drift via per-partition KS/chi-square against
baseline sketches").

Architecture (scale-first):
- The *baseline* is tiny (per-column histograms / category frequencies,
  computed once by ``numeric_baseline``/``categorical_baseline`` — one
  aggregation each) and is closed over by the grouped-map function — i.e.
  broadcast in the task closure, never joined row-wise.
- The *check* is a grouped-map ``applyInPandas`` over ``partition_id`` —
  the UDAF analog (SURVEY.md §2.8). Each group sees only its partition's
  column values; Arrow batches in, one stats row out. This is the only
  Python in the engine's hot paths, and it is per-GROUP Python, not
  per-row.
- Statistics are implemented with numpy only (no scipy in the image):
  * two-sample KS statistic + asymptotic threshold
    c(α)·sqrt((n+m)/(n·m)) — closed form, exact enough for gating;
  * chi-square statistic + Wilson–Hilferty normal approximation for the
    p-value — good to ~1e-3 for dof ≥ 1, which is all a drift gate needs.

A partition "drifts" when the statistic exceeds its α-level threshold;
output rows feed the violations table with constraint kind ``drift``.
"""

from __future__ import annotations

import math
from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from validate_xml_rust_spark import colcache
from validate_xml_rust_spark.functions.grambuckets import (
    gram_bucket_counts,
    word_grams,
)
from validate_xml_rust_spark.session import local_frame

KS_ALPHA_COEFF = {0.10: 1.22, 0.05: 1.36, 0.01: 1.63}


def numeric_baseline(df: DataFrame, column: str, sample_cap: int = 100_000) -> np.ndarray:
    """Reference sample of a numeric column (deterministic hash-sample so
    the baseline is reproducible and bounded regardless of table size)."""
    nn = df.filter(F.col(column).isNotNull())
    # deterministic sample: keep rows whose hash lands in a fixed residue
    # window sized from an approximate count (one cheap agg)
    approx = nn.agg(F.count(F.lit(1)).alias("n")).collect()[0]["n"]
    if approx > sample_cap:
        mod = max(2, approx // sample_cap)
        nn = nn.filter(F.pmod(F.xxhash64(F.col(column), F.lit(11)), F.lit(mod)) == 0)
    vals = nn.select(F.col(column).cast("double").alias("v")).toPandas()["v"].to_numpy()
    return np.sort(vals)


def categorical_baseline(df: DataFrame, column: str) -> dict[str, int]:
    """Category → count map (one aggregation; assumes bounded cardinality)."""
    rows = (
        df.filter(F.col(column).isNotNull())
        .groupBy(column)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    return {str(r[column]): r["n"] for r in rows}


def ks_statistic(sample: np.ndarray, baseline_sorted: np.ndarray) -> float:
    """Two-sample KS statistic (max CDF gap), pure numpy."""
    s = np.sort(sample)
    allv = np.concatenate([s, baseline_sorted])
    cdf_s = np.searchsorted(s, allv, side="right") / len(s)
    cdf_b = np.searchsorted(baseline_sorted, allv, side="right") / len(baseline_sorted)
    return float(np.max(np.abs(cdf_s - cdf_b)))


def ks_threshold(n: int, m: int, alpha: float = 0.05) -> float:
    c = KS_ALPHA_COEFF.get(alpha, 1.36)
    return c * math.sqrt((n + m) / (n * m))


def chi2_stat_pvalue(
    observed: np.ndarray, expected: np.ndarray
) -> tuple[float, float]:
    """Chi-square statistic + Wilson–Hilferty approximate p-value."""
    mask = expected > 0
    stat = float(np.sum((observed[mask] - expected[mask]) ** 2 / expected[mask]))
    dof = max(int(mask.sum()) - 1, 1)
    # Wilson–Hilferty: (X/dof)^(1/3) ~ Normal(1 - 2/(9 dof), 2/(9 dof))
    z = ((stat / dof) ** (1.0 / 3.0) - (1 - 2.0 / (9 * dof))) / math.sqrt(
        2.0 / (9 * dof)
    )
    p = 0.5 * math.erfc(z / math.sqrt(2))
    return stat, float(p)


DRIFT_SCHEMA = (
    "partition_id int, column_name string, test string, statistic double, "
    "threshold double, p_value double, n long, drifted boolean"
)


def ks_drift_check(
    df: DataFrame,
    column: str,
    baseline: np.ndarray,
    partition_col: str = "partition_id",
    alpha: float = 0.05,
    min_rows: int = 20,
) -> DataFrame:
    """Per-partition two-sample KS test vs the baseline sample.

    ``applyInPandas`` grouped by partition_id: Arrow-batched, one output
    row per partition. The baseline array rides in the closure (pickled
    once per task — keep it ≤ ~1e5 values via ``numeric_baseline``)."""
    base = np.sort(np.asarray(baseline, dtype="float64"))

    def check(pdf: pd.DataFrame) -> pd.DataFrame:
        pid = int(pdf["__pid"].iloc[0])
        vals = pdf["__val"].dropna().to_numpy(dtype="float64")
        if len(vals) < min_rows or len(base) == 0:
            return pd.DataFrame(
                [[pid, column, "ks", 0.0, 0.0, 1.0, len(vals), False]],
                columns=["partition_id", "column_name", "test", "statistic",
                         "threshold", "p_value", "n", "drifted"],
            )
        stat = ks_statistic(vals, base)
        thr = ks_threshold(len(vals), len(base), alpha)
        # asymptotic p-value (Kolmogorov distribution, 2-term tail)
        en = math.sqrt(len(vals) * len(base) / (len(vals) + len(base)))
        lam = (en + 0.12 + 0.11 / en) * stat
        p = max(0.0, min(1.0, 2 * sum(
            (-1) ** (k - 1) * math.exp(-2 * k * k * lam * lam) for k in range(1, 4)
        )))
        return pd.DataFrame(
            [[pid, column, "ks", round(stat, 6), round(thr, 6), round(p, 6),
              len(vals), bool(stat > thr)]],
            columns=["partition_id", "column_name", "test", "statistic",
                     "threshold", "p_value", "n", "drifted"],
        )

    prepared = df.select(
        F.col(partition_col).cast("int").alias("__pid"),
        F.col(column).cast("double").alias("__val"),
    )
    return prepared.groupBy("__pid").applyInPandas(check, DRIFT_SCHEMA)


def chi2_drift_check(
    df: DataFrame,
    column: str,
    baseline_counts: dict[str, int],
    partition_col: str = "partition_id",
    alpha: float = 0.05,
    min_rows: int = 20,
) -> DataFrame:
    """Per-partition chi-square goodness-of-fit of a categorical column
    against baseline category proportions.

    Implemented WITHOUT per-row Python: the per-partition-per-category
    counts come from one JVM aggregation (`groupBy(pid, col).count()` —
    map-side combined, tiny result), and only the ≤(partitions × categories)
    count rows go through a grouped-map for the statistic."""
    cats = sorted(baseline_counts)
    base_total = sum(baseline_counts.values()) or 1
    props = np.array([baseline_counts[c] / base_total for c in cats])

    counts = (
        df.filter(F.col(column).isNotNull())
        .groupBy(
            F.col(partition_col).cast("int").alias("__pid"),
            F.col(column).cast("string").alias("__cat"),
        )
        .agg(F.count(F.lit(1)).alias("__n"))
    )

    def check(pdf: pd.DataFrame) -> pd.DataFrame:
        pid = int(pdf["__pid"].iloc[0])
        got = dict(zip(pdf["__cat"], pdf["__n"]))
        observed = np.array([float(got.get(c, 0)) for c in cats])
        # categories NOT in the baseline are themselves drift evidence —
        # fold them into an OTHER bucket with a floored expectation, else
        # a partition full of novel values would look empty to the test
        other = float(sum(v for k, v in got.items() if k not in baseline_counts))
        n = observed.sum() + other
        if n < min_rows:
            return pd.DataFrame(
                [[pid, column, "chi2", 0.0, 0.0, 1.0, int(n), False]],
                columns=["partition_id", "column_name", "test", "statistic",
                         "threshold", "p_value", "n", "drifted"],
            )
        expected = props * n
        if other > 0:
            observed = np.append(observed, other)
            expected = np.append(expected, 0.5)  # floor: unseen category
        stat, p = chi2_stat_pvalue(observed, expected)
        return pd.DataFrame(
            [[pid, column, "chi2", round(stat, 6), float(alpha), round(p, 6),
              int(n), bool(p < alpha)]],
            columns=["partition_id", "column_name", "test", "statistic",
                     "threshold", "p_value", "n", "drifted"],
        )

    return counts.groupBy("__pid").applyInPandas(check, DRIFT_SCHEMA)


def psi_drift_check(
    df: DataFrame,
    column: str,
    baseline_counts: dict[str, int],
    partition_col: str = "partition_id",
    threshold: float = 0.2,
    min_rows: int = 20,
    smooth: float = 0.5,
    stat: str = "psi",
) -> DataFrame:
    """Per-partition divergence of a categorical column vs baseline
    proportions. ``stat='psi'`` (default): Population Stability Index =
    Σ (p_i − q_i)·ln(p_i / q_i) (the industry banding: <0.1 stable,
    0.1–0.2 moderate, >0.2 drifted). ``stat='js'``: Jensen–Shannon
    divergence = ½ Σ p·ln(p/mid) + ½ Σ q·ln(q/mid), mid = (p+q)/2 —
    bounded in [0, ln 2], symmetric, finite even where PSI's log-ratio
    blows up on near-empty cells. Both run over the baseline categories
    plus an OTHER bucket, Laplace-smoothed with ``smooth``
    pseudo-counts.

    Unlike the KS/chi² checks this needs NO Python at all: the only
    shuffle is the (partition × category) count aggregation (map-side
    combined, ≤ P·K rows); the category grid is expanded from a constant
    array and every PSI term is a codegen'd expression. The baseline is
    never joined row-wise: its map, the category grid and the fold into
    ``__OTHER__`` are each ONE SQL expression holding every category as
    an escaped literal (``_sql_str``), built in one py4j round trip per
    call rather than one ``F.lit`` per category. The closed-form statistic
    makes it fully restatable in SQL, so the gate query cross-verifies the
    arithmetic end to end (chi²/KS gates verify only the statistic their
    oracles can reach).
    """
    counts = (
        df.filter(F.col(column).isNotNull())
        .groupBy(
            F.col(partition_col).cast("int").alias("__pid"),
            _fold_other(f"CAST({_ident(column)} AS STRING)", baseline_counts)
            .alias("__cat"),
        )
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    return psi_from_counts(
        counts, column, baseline_counts,
        threshold=threshold, min_rows=min_rows, smooth=smooth, stat=stat,
    )


def psi_from_counts(
    counts: DataFrame,
    column: str,
    baseline_counts: dict[str, int],
    threshold: float = 0.2,
    min_rows: int = 20,
    smooth: float = 0.5,
    stat: str = "psi",
) -> DataFrame:
    """PSI (or JS divergence — ``stat``, see psi_drift_check) from a
    pre-aggregated ``(__pid, __cat, __n)`` counts frame — the core of
    `psi_drift_check`, exposed so callers whose category column is
    EXPENSIVE to derive (an Arrow UDF assignment, say) can aggregate
    once and reuse the ≤ P·K-row counts for both the baseline and the
    statistic instead of rescanning the raw frame. Categories not in
    ``baseline_counts`` must already be folded into ``__OTHER__``. The
    term formula is the ONLY thing ``stat`` changes — same grid, same
    smoothing, same zero-Python plan."""
    if stat not in ("psi", "js"):
        raise ValueError(f"unknown divergence stat: {stat!r}")
    cats = sorted(baseline_counts)
    all_cats = cats + ["__OTHER__"]
    # the per-category constants: one expression each, whatever K is
    base_map = F.expr("map(" + ", ".join(
        f"{_sql_str(c)}, {float(baseline_counts[c])!r}D" for c in cats
    ) + ")")
    grid_cats = F.expr("array(" + ", ".join(map(_sql_str, all_cats)) + ")")
    cols = _psi_columns(
        column, stat, float(len(all_cats)),
        float(sum(baseline_counts.values())) or 1.0,
        float(smooth), float(threshold), min_rows,
    )
    per_pid = counts.groupBy("__pid").agg(*cols["per_pid"])
    grid = per_pid.select(
        "__pid", "__tot", F.explode(grid_cats).alias("__cat"), "__m"
    ).select(
        "__pid", "__tot", cols["observed"],
        F.coalesce(F.element_at(base_map, F.col("__cat")), F.lit(0.0)).alias("__b"),
    )
    return (
        grid.withColumn("__t", cols["term"])
        .groupBy("__pid")
        .agg(*cols["stat"])
        .select(*cols["out"])
    )


@colcache.per_context
def _psi_columns(
    column: str, stat: str, k: float, m: float, smooth: float,
    threshold: float, min_rows: int,
) -> dict:
    """The baseline-independent Columns of ``psi_from_counts``: ``k``
    categories (the OTHER bucket included), ``m`` baseline observations."""
    p = (F.col("__o") + smooth) / (F.col("__tot") + smooth * k)
    q = (F.col("__b") + smooth) / (m + smooth * k)
    if stat == "psi":
        term = (p - q) * F.log(p / q)
    else:  # js
        mid = (p + q) / 2
        term = (p * F.log(p / mid) + q * F.log(q / mid)) / 2
    return {
        "per_pid": (
            F.map_from_entries(F.collect_list(F.struct("__cat", "__n"))).alias("__m"),
            F.sum("__n").cast("double").alias("__tot"),
        ),
        "observed": F.coalesce(F.element_at("__m", F.col("__cat")), F.lit(0))
        .cast("double").alias("__o"),
        "term": term,
        "stat": (
            F.when(F.max("__tot") < min_rows, F.lit(0.0))
            .otherwise(F.round(F.sum("__t"), 6))
            .alias("statistic"),
            F.max("__tot").cast("long").alias("n"),
        ),
        "out": (
            F.col("__pid").alias("partition_id"),
            F.lit(column).alias("column_name"),
            F.lit(stat).alias("test"),
            F.col("statistic"),
            F.lit(threshold).alias("threshold"),
            F.lit(None).cast("double").alias("p_value"),
            F.col("n"),
            (F.col("statistic") > threshold).alias("drifted"),
        ),
    }


def _sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal (backslash and quote escaped;
    any other character, non-ASCII included, stands for itself)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _ident(name: str) -> str:
    """A column name as ``F.col`` reads it, spelled for SQL text: each
    dot-separated part backquoted (a name already holding backquotes is
    taken as quoted)."""
    if "`" in name:
        return name
    return ".".join(f"`{part}`" for part in name.split("."))


def _fold_other(value_sql: str, cats) -> Column:
    """``value_sql`` where it is one of ``cats``, else ``'__OTHER__'``:
    one CASE expression, one round trip for any number of categories."""
    if not cats:
        return F.lit("__OTHER__")
    in_list = ", ".join(map(_sql_str, sorted(cats)))
    return F.expr(
        f"CASE WHEN {value_sql} IN ({in_list}) THEN {value_sql} "
        "ELSE '__OTHER__' END"
    )


def numeric_bin_col(
    column: str, lo: float, hi: float, n_bins: int = 10
) -> "F.Column":
    """Fixed-width bin label for a numeric column: values clamp into
    [0, n_bins-1] (under/overflow land in the edge bins, the standard
    production binning — a shifted distribution piles up at an edge and
    registers). NULL and NaN stay NULL (excluded from both
    distributions — NaN is missing data, and engines disagree on where
    NaN sorts: Spark's floor(NaN)→0 would bin it low while DuckDB's
    NaN-above-everything bins it high; excluding it keeps the SQL
    restatement exact)."""
    w = (hi - lo) / n_bins
    v = F.col(column).cast("double")
    raw = F.floor((v - lo) / w)
    return (
        F.when(v.isNull() | F.isnan(v), F.lit(None).cast("string"))
        .otherwise(
            F.least(F.lit(n_bins - 1), F.greatest(F.lit(0), raw)).cast("string")
        )
    )


def psi_numeric_drift_check(
    df: DataFrame,
    column: str,
    lo: float,
    hi: float,
    baseline_counts: dict[str, int] | None = None,
    n_bins: int = 10,
    partition_col: str = "partition_id",
    **psi_kw,
) -> DataFrame:
    """PSI over a numeric column via fixed-width binning — the standard
    production numeric-drift monitor (KS needs the value sample in the
    task closure; binned PSI needs only bin COUNTS, so baselines are
    O(n_bins) rows that live in a metrics table forever and the check
    stays on the zero-Python PSI plan).

    ``lo``/``hi`` come from the baseline snapshot's profile (fixed bin
    edges — NEVER recompute them per run, or the comparison silently
    re-anchors). ``baseline_counts``: bin→count from the reference
    snapshot; None = self-baseline against the whole frame.
    """
    binned = df.withColumn("__bin", numeric_bin_col(column, lo, hi, n_bins))
    if baseline_counts is None:
        baseline_counts = categorical_baseline(binned, "__bin")
    out = psi_drift_check(
        binned, "__bin", baseline_counts, partition_col=partition_col, **psi_kw
    )
    return out.withColumn("column_name", F.lit(column))


def embedding_drift_check(
    df: DataFrame,
    vec_col: str,
    anchors,
    baseline_counts: dict[str, int] | None = None,
    partition_col: str = "partition_id",
    **psi_kw,
) -> DataFrame:
    """Distribution drift of a VECTOR column (embedding space): assign
    each vector to its nearest anchor (Arrow numpy argmin — one batch op
    per Arrow batch), then run the PSI check over the per-partition
    cluster distribution. Embedding drift is invisible to per-dimension
    scalar checks (a rotated embedding model keeps every marginal
    similar); cluster-occupancy shift is the standard detector.

    ``anchors``: (k, dim) reference centroids — a tiny frozen model
    (ivf_train output, or a handful of reference vectors). ``baseline_
    counts``: reference cluster distribution; None = self-baseline
    against the whole frame (flags partitions deviating from the global
    mix). Everything after assignment is the zero-Python PSI plan.

    NULL vectors are excluded (consistent with the scalar checks' NULL
    rule — a missing embedding is missing data, not a cluster). The
    expensive Arrow argmin runs ONCE: the (partition × cluster) counts
    aggregate first, and both the self-baseline and the statistic read
    the ≤ P·K-row counts frame (an eager collect of the tiny aggregate),
    never rescanning the raw vectors.
    """
    from validate_xml_rust_spark.operators.similarity import ivf_assign

    assigned = ivf_assign(
        df.filter(F.col(vec_col).isNotNull()), anchors, vec_col=vec_col
    ).withColumn("cluster", F.col("cluster_id").cast("string"))
    counts_rows = (
        assigned.groupBy(
            F.col(partition_col).cast("int").alias("__pid"),
            F.col("cluster").alias("__cat"),
        )
        .agg(F.count(F.lit(1)).alias("__n"))
        .collect()  # ≤ partitions × n_anchors rows — the UDF scan runs once
    )
    if baseline_counts is None:
        baseline_counts = {}
        for r in counts_rows:
            baseline_counts[r["__cat"]] = baseline_counts.get(r["__cat"], 0) + r["__n"]
    # fold clusters outside the baseline into __OTHER__ (summing, so the
    # downstream map_from_entries never sees duplicate keys)
    folded: dict[tuple[int, str], int] = {}
    for r in counts_rows:
        cat = r["__cat"] if r["__cat"] in baseline_counts else "__OTHER__"
        folded[(r["__pid"], cat)] = folded.get((r["__pid"], cat), 0) + r["__n"]
    keys = sorted(folded)
    counts = local_frame(
        assigned.sparkSession, "__pid int, __cat string, __n long",
        {"__pid": [p for p, _ in keys], "__cat": [c for _, c in keys],
         "__n": [folded[k] for k in keys]},
    )
    return psi_from_counts(counts, "cluster", baseline_counts, **psi_kw)


def drift_violations(drift_df: DataFrame) -> DataFrame:
    """Drifted partitions → violation rows in the engine contract."""
    return drift_df.filter(F.col("drifted")).select(*_drift_violation_columns())


@colcache.per_context
def _drift_violation_columns() -> tuple[Column, ...]:
    return (
        F.concat(F.lit("partition:"), F.col("partition_id").cast("string")).alias("url"),
        F.concat(F.lit("drift_"), F.col("test"), F.lit("_"), F.col("column_name")).alias(
            "constraint_id"
        ),
        F.col("statistic").cast("string").alias("observed_value"),
        F.concat_ws(
            " ",
            F.lit("distribution drift:"),
            F.col("test"),
            F.lit("stat"),
            F.col("statistic").cast("string"),
            F.lit("p"),
            F.col("p_value").cast("string"),
        ).alias("message"),
    )


@colcache.per_context
def _vocab_columns(text_col: str, partition_col: str) -> tuple:
    """vocab_drift's gram text, partition key and count-row renames."""
    return (
        F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))),
        F.col(partition_col).cast("int"),
        (
            F.col("__k").alias("__pid"),
            F.col("b").cast("string").alias("__cat"),
            F.col("__c").alias("__n"),
        ),
    )


def vocab_bucket_counts(
    df: DataFrame,
    text_col: str = "text",
    partition_col: str | None = "partition_id",
    n_buckets: int = 256,
    seed: str = "vocab",
) -> DataFrame:
    """Word-unigram occurrences hashed into a FIXED md5 bucket space —
    the bounded-cardinality category frame vocabulary drift runs over.
    Each token is one observation; the only shuffle is the
    (partition × bucket) count aggregation (map-side combined,
    ≤ P·n_buckets rows at any corpus size). md5 (not xxhash64) so the
    DuckDB oracle recomputes identical buckets."""
    from validate_xml_rust_spark.functions.texthash import tokens
    from validate_xml_rust_spark.operators.curation import sample_ticket

    cols = [F.col(partition_col)] if partition_col else []
    toks = df.select(
        *cols, F.explode(tokens(F.col(text_col))).alias("__tok")
    )
    return toks.withColumn(
        "vocab",
        (sample_ticket(F.col("__tok"), seed) % F.lit(n_buckets)).cast(
            "string"
        ),
    ).drop("__tok")


def vocab_drift(
    df: DataFrame,
    text_col: str = "text",
    partition_col: str = "partition_id",
    baseline_df: DataFrame | None = None,
    n_buckets: int = 256,
    stat: str = "js",
    threshold: float = 0.1,
    min_rows: int = 20,
    seed: str = "vocab",
    handles: dict | None = None,
) -> DataFrame:
    """Per-partition VOCABULARY drift: the token (not row) distribution
    of each partition against a baseline corpus's token distribution —
    the statistic that catches a crawl snapshot whose language/jargon/
    boilerplate mix shifted even when row-level columns look stable
    (the vocabulary-shift check an LLM-data pipeline runs between
    ingests; same published JS/PSI banding as the column checks).

    Words are hashed into ``n_buckets`` md5 buckets, so the category
    space is FINITE and identical in both engines regardless of true
    vocabulary size, then the ALREADY-GATED categorical machinery
    (psi_drift_check — grid expansion, Laplace smoothing, zero Python)
    runs over the bucket column with each token as one observation.
    ``baseline_df=None`` baselines against this corpus's own global
    distribution; pass the prior snapshot's frame for corpus-vs-corpus.

    Scale shape: ONE corpus pass — the (P × n_buckets) count aggregation
    is eager-checkpointed (≤ P·n_buckets rows), and with
    ``baseline_df=None`` the global baseline is summed from those same
    counts instead of re-exploding the corpus (measured 9.8 s → 5.8 s at
    1M pages); an explicit baseline corpus costs its own single pass.
    Pass ``handles`` to receive ``ckpt_block_ids`` for release once the
    result has materialized downstream."""
    from validate_xml_rust_spark.ckpt import eager_checkpoint

    # Token counting runs in the Arrow partial-count kernel (one
    # mapInPandas pass + an exact integer sum); `vocab_bucket_counts`
    # remains the exploded reference twin, parity-tested, and the shape
    # the streaming vocab gate consumes.
    text, key, renamed = _vocab_columns(text_col, partition_col)
    cnts = gram_bucket_counts(
        df, text, partial(word_grams, bigrams=False), n_buckets, seed, key=key,
    ).select(*renamed)
    cnts, block_ids = eager_checkpoint(cnts)
    if handles is not None:
        handles["ckpt_block_ids"] = block_ids
    if baseline_df is None:
        baseline = {
            r["__cat"]: r["n"]
            for r in cnts.groupBy("__cat")
            .agg(F.sum("__n").alias("n"))
            .collect()
        }
    else:
        baseline = categorical_baseline(
            vocab_bucket_counts(
                baseline_df, text_col, None, n_buckets=n_buckets, seed=seed
            ),
            "vocab",
        )
        # categories outside the baseline fold to __OTHER__
        # (psi_from_counts' contract; self-baseline is a subset already)
        cnts = cnts.withColumn(
            "__cat", _fold_other("`__cat`", baseline)
        ).groupBy("__pid", "__cat").agg(F.sum("__n").alias("__n"))
    return psi_from_counts(
        cnts, "vocab", baseline,
        threshold=threshold, min_rows=min_rows, stat=stat,
    )
