"""Generic skew-salted aggregation (the general form of A10's salted
uniqueness; north_rule: "skew salting on hot url-host keys").

``salted_agg`` runs any ALGEBRAIC aggregation (one with a partial/merge
decomposition: count, sum, min, max, approx_count_distinct/HLL) in two
phases:

  phase 1: groupBy(key, salt).agg(partials)   — the hot key's rows split
           across ``n_salts`` reducers, bounding any single task,
  phase 2: groupBy(key).agg(merge(partials))  — ≤ n_salts rows per key.

AQE's skew handling covers JOINs but does NOT salt aggregations — for a
groupBy where one key owns 40% of a 10^12-row table, phase 1 is the only
thing standing between you and a 4·10^11-row reducer.

Supported agg specs: ("count",), ("sum", col), ("min", col), ("max", col),
("approx_distinct", col) — each with an output alias.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from validate_xml_rust_spark.colcache import per_context

AggSpec = tuple  # (op, col?, alias)


def _partial(op: str, col: str | None, alias: str):
    if op == "count":
        # col=None → row count; col given → non-null count (SQL COUNT(col))
        return (F.count(F.lit(1)) if col is None else F.count(col)).alias(alias)
    if op == "sum":
        return F.sum(col).alias(alias)
    if op == "min":
        return F.min(col).alias(alias)
    if op == "max":
        return F.max(col).alias(alias)
    if op == "approx_distinct":
        # per-salt HLL sketches, so phase 2 merges losslessly
        return F.hll_sketch_agg(F.col(col).cast("string")).alias(alias)
    raise ValueError(f"unsupported salted agg op: {op}")


def _merge(op: str, alias: str):
    if op == "count":
        return F.sum(alias).alias(alias)
    if op == "sum":
        return F.sum(alias).alias(alias)
    if op == "min":
        return F.min(alias).alias(alias)
    if op == "max":
        return F.max(alias).alias(alias)
    if op == "approx_distinct":
        return F.hll_sketch_estimate(F.hll_union_agg(alias)).alias(alias)
    raise ValueError(f"unsupported salted agg op: {op}")


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: list[AggSpec],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase salted groupBy. ``aggs``: [(op, col_or_None, alias), ...]."""
    groups, partials, merges = _salted_columns(
        tuple(keys), tuple(map(tuple, aggs)), n_salts
    )
    return df.groupBy(*groups).agg(*partials).groupBy(*keys).agg(*merges)


@per_context
def _salted_columns(keys: tuple, aggs: tuple, n_salts: int) -> tuple:
    """(phase-1 grouping Columns with the salt, partial aggregates, merge
    aggregates) — built once per session and argument set."""
    salt = F.pmod(
        F.xxhash64(F.monotonically_increasing_id(), F.lit(23)), F.lit(n_salts)
    ).alias("__salt")
    return (
        (*[F.col(k) for k in keys], salt),
        tuple(_partial(op, col, alias) for (op, col, alias) in aggs),
        tuple(_merge(op, alias) for (op, col, alias) in aggs),
    )


def host_stats_salted(
    df: DataFrame, url_col: str = "url", n_salts: int = 16
) -> DataFrame:
    """Per-host stats over a Zipf-skewed url table — the north_rule's
    canonical hot-key aggregation, salted. Output: host, n_pages,
    approx_distinct_urls, first_ts, last_ts."""
    host = F.parse_url(F.col(url_col), F.lit("HOST")).alias("host")
    base = df.filter(F.col(url_col).isNotNull()).select(
        host, F.col(url_col).alias("__u"), F.col("warc_ts")
    )
    return salted_agg(
        base,
        ["host"],
        [
            ("count", None, "n_pages"),
            ("approx_distinct", "__u", "approx_distinct_urls"),
            ("min", "warc_ts", "first_ts"),
            ("max", "warc_ts", "last_ts"),
        ],
        n_salts=n_salts,
    )
