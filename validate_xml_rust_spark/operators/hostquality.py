"""Per-host (per-source) quality aggregation feeding spec constraints.

The one curation signal large-scale web pipelines apply at HOST grain
rather than document grain (public recipes: C4's blocklist domains,
Gopher/RefinedWeb per-domain quality filtering): aggregate a per-document
quality score by url-host and keep/drop whole hosts by their mean.

Scale shape: host keys are Zipf-skewed (one CDN host can own percents of
a crawl), so the aggregation is the salted two-phase groupBy from
operators/skew.py — never a single-reducer hot key. The per-doc score is
a pure codegen'd expression (operators/textstats.quality_score), so the
whole operator is scan → narrow projection → salted agg: one shuffle of
O(hosts × n_salts) partial rows.

Determinism contract (gate-friendly): the per-doc score is rounded to
6dp and accumulated in DECIMAL(18,6) — an exact, order-independent sum —
and the mean is computed once, in double, at the final projection. Both
engines therefore agree bit-for-bit (repo rule: accumulate exactly in
DECIMAL, cast at the final projection).

Reference analog: per-file verdict aggregation into per-schema summary
counts (src/validator.rs:346-352) — here lifted to per-host keep/drop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from validate_xml_rust_spark.colcache import per_context
from validate_xml_rust_spark.operators.skew import salted_agg


def _quality_sums(
    df: DataFrame,
    keys: list[str],
    text_col: str,
    quality_col: str | None,
    n_salts: int,
) -> DataFrame:
    """Exact DECIMAL(18,6) quality partials per key tuple — the salted
    one-shuffle core shared by the flat and rollup grains. Rows with a
    NULL in ANY key are excluded (no verdict without attribution)."""
    if quality_col is None:
        from validate_xml_rust_spark.operators.textstats import quality_score

        scored = quality_score(df, text_col=text_col)
        quality_col = "quality"
    else:
        scored = df
    pred, cols = _sum_input_columns(tuple(keys), quality_col)
    base = scored.filter(pred).select(*cols)
    return salted_agg(
        base,
        keys,
        [("sum", "__q", "__sum_q"), ("count", None, "n_docs"),
         ("count", "__q", "__n_scored")],
        n_salts=n_salts,
    )


@per_context
def _sum_input_columns(keys: tuple, quality_col: str) -> tuple:
    """(no NULL key predicate, the keys plus the 6dp DECIMAL score)."""
    q6 = F.round(F.col(quality_col), 6).cast("decimal(18,6)")
    pred = F.lit(True)
    for k in keys:
        pred = pred & F.col(k).isNotNull()
    return pred, (*[F.col(k) for k in keys], q6.alias("__q"))


def _project_mean(agg: DataFrame, keys: list[str]) -> DataFrame:
    return agg.select(*_mean_columns(tuple(keys)))


@per_context
def _mean_columns(keys: tuple) -> tuple:
    return (
        *[F.col(k) for k in keys],
        F.col("n_docs").cast("long").alias("n_docs"),
        F.when(
            F.col("__n_scored") > 0,
            F.round(
                F.col("__sum_q").cast("double") / F.col("__n_scored"), 6
            ),
        ).alias("mean_quality"),
    )


@per_context
def _bad_columns(mq: float, md: int, grain: str) -> tuple:
    """(the below-threshold predicate, the violation projection) over
    ``(group_value, n_docs, mean_quality, cid)`` rows."""
    return (
        (F.col("n_docs") >= md)
        & F.col("mean_quality").isNotNull()
        & (F.col("mean_quality") < mq),
        (
            F.col("group_value").alias("url"),
            F.col("cid").alias("constraint_id"),
            F.col("mean_quality").cast("string").alias("observed_value"),
            F.concat(
                F.lit(f"{grain} mean quality "),
                F.col("mean_quality").cast("string"),
                F.lit(f" < {mq} over "),
                F.col("n_docs").cast("string"),
                F.lit(" docs"),
            ).alias("message"),
        ),
    )


@per_context
def _group_stats_columns(group_col: str, constraint_id: str) -> tuple:
    return (
        F.col(group_col).cast("string").alias("group_value"),
        F.col("n_docs"), F.col("mean_quality"),
        F.lit(constraint_id).alias("cid"),
    )


def group_quality_stats(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    quality_col: str | None = None,
    n_salts: int = 16,
) -> DataFrame:
    """Mean document quality per group: ``(group_col, n_docs,
    mean_quality)``. ``quality_col=None`` computes the heuristic
    textstats score inline (zero extra shuffle); pass a column name to
    aggregate an existing score (e.g. the trained model's probability).
    NULL groups are excluded (an unattributable doc has no host verdict);
    NULL scores count toward n_docs but not the mean's numerator — the
    mean divides by the number of SCORED docs."""
    return _project_mean(
        _quality_sums(df, [group_col], text_col, quality_col, n_salts),
        [group_col],
    )


def rollup_quality_stats(
    df: DataFrame,
    host_col: str = "source",
    domain_col: str = "domain",
    text_col: str = "text",
    quality_col: str | None = None,
    n_salts: int = 16,
) -> DataFrame:
    """Domain → host quality ROLLUP — keep/drop policy cascading from the
    coarse grain (TLD / registered domain) to the fine grain (host), the
    C4/Gopher-style blocklist hierarchy. Output:
    ``(grain, group_value, n_docs, mean_quality)`` with grain ∈
    {'host', 'domain'}.

    Scale shape: the corpus is scanned and shuffled ONCE, salted, at the
    (domain, host) grain; the domain grain is a SECOND aggregation over
    the O(hosts) partial rows — DECIMAL sums compose exactly, so both
    grains' means are order-independent and identical to what a direct
    aggregation at that grain would produce (pinned by test). No
    rollup()/grouping-sets exchange over the raw rows: AQE cannot split
    skewed aggregations (CLAUDE.md), and the salt already handles the hot
    hosts — the host partials are the only thing the domain grain needs.

    NULL handling: a NULL host excludes the row (no verdict without
    attribution — same rule as the flat grain), but a NULL DOMAIN must
    NOT perturb the host grain (a failed domain extraction is a domain
    problem, not a host problem): such rows aggregate under an internal
    sentinel that the host grain sums over and the domain grain filters
    out — enabling the rollup never changes host-grain results (pinned
    by test)."""
    sentinel = "\x00__null_domain__"
    sums = _quality_sums(
        df.withColumn(domain_col, F.coalesce(F.col(domain_col).cast("string"),
                                             F.lit(sentinel))),
        [domain_col, host_col], text_col, quality_col, n_salts,
    )
    host_rows = _project_mean(
        sums.groupBy(host_col).agg(
            F.sum("__sum_q").alias("__sum_q"),
            F.sum("n_docs").alias("n_docs"),
            F.sum("__n_scored").alias("__n_scored"),
        ),
        [host_col],
    ).select(
        F.lit("host").alias("grain"),
        F.col(host_col).cast("string").alias("group_value"),
        "n_docs", "mean_quality",
    )
    dom_rows = _project_mean(
        sums.filter(F.col(domain_col) != sentinel)
        .groupBy(domain_col).agg(
            F.sum("__sum_q").alias("__sum_q"),
            F.sum("n_docs").alias("n_docs"),
            F.sum("__n_scored").alias("__n_scored"),
        ),
        [domain_col],
    ).select(
        F.lit("domain").alias("grain"),
        F.col(domain_col).cast("string").alias("group_value"),
        "n_docs", "mean_quality",
    )
    return host_rows.unionByName(dom_rows)


def host_quality_violations(
    df: DataFrame,
    group_col: str = "source",
    constraint_id: str = "host_quality",
    min_mean_quality: float = 0.5,
    min_docs: int = 1,
    text_col: str = "text",
    quality_col: str | None = None,
    n_salts: int = 16,
    domain_col: str | None = None,
    domain_min_mean_quality: float | None = None,
    domain_min_docs: int | None = None,
) -> DataFrame:
    """One violation row per group whose mean quality falls below the
    threshold (with at least ``min_docs`` docs — tiny hosts are noise,
    not signal). Engine violation contract ``(url, constraint_id,
    observed_value, message)`` with the GROUP value as url — a host-level
    keep/drop verdict, exactly like the reference's per-schema failure
    summary lifted to table scope.

    ``domain_col`` switches on the domain→host ROLLUP
    (``rollup_quality_stats``): violations are emitted at BOTH grains
    from one corpus shuffle — domain-grain rows carry
    ``constraint_id@<domain_col>`` so keep/drop policy can cascade
    (block the domain, or just the bad hosts inside a healthy domain).
    Domain thresholds default to the host thresholds."""

    def _bad(stats: DataFrame, mq: float, md: int, grain: str) -> DataFrame:
        pred, cols = _bad_columns(mq, md, grain)
        return stats.filter(pred).select(*cols)

    if domain_col is None:
        stats = group_quality_stats(
            df, group_col=group_col, text_col=text_col,
            quality_col=quality_col, n_salts=n_salts,
        ).select(*_group_stats_columns(group_col, constraint_id))
        return _bad(stats, min_mean_quality, min_docs, "host")
    rolled = rollup_quality_stats(
        df, host_col=group_col, domain_col=domain_col, text_col=text_col,
        quality_col=quality_col, n_salts=n_salts,
    )
    host_v = _bad(
        rolled.filter(F.col("grain") == "host").withColumn(
            "cid", F.lit(constraint_id)
        ),
        min_mean_quality, min_docs, "host",
    )
    dom_v = _bad(
        rolled.filter(F.col("grain") == "domain").withColumn(
            "cid", F.lit(f"{constraint_id}@{domain_col}")
        ),
        domain_min_mean_quality if domain_min_mean_quality is not None
        else min_mean_quality,
        domain_min_docs if domain_min_docs is not None else min_docs,
        "domain",
    )
    return host_v.unionByName(dom_v)
