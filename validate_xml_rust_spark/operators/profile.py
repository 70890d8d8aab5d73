"""Per-column statistics profiler (SURVEY.md §2.4 A9).

One-pass ``agg`` over the table computing, per profiled column: null rate,
min/max, exact + approximate distinct cardinality, and average/extreme
lengths. All JVM-side aggregate expressions — a single HashAggregate with
map-side partials, one shuffle of O(columns) partial states (constant-size
regardless of row count → scales to 10^12 rows).

Length histograms are a separate ``groupBy(bucket)`` (second query — a
histogram's group key depends on the data so it cannot fuse into the wide
agg row)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def profile(
    df: DataFrame, columns: list[str] | None = None, exact: bool = False
) -> DataFrame:
    """Wide one-row stats → unpivoted to one row per column.

    Output: ``column_name, null_rate, n_distinct, approx_distinct,
    min_value, max_value`` (min/max stringified so heterogeneous column
    types can share one output schema).

    ``exact=False`` (default): ``n_distinct`` = HLL approximation — the
    only sane answer at 10^12 rows; every per-column stat is then a
    constant-size partial state and the whole profile is ONE map-side-
    combined aggregation with no Expand. ``exact=True`` adds per-column
    ``countDistinct`` — Spark plans an Expand (input × n_distinct_cols),
    acceptable only on small/dimension tables (the DuckDB-oracle path)."""
    cols = columns or df.columns
    aggs = [F.count(F.lit(1)).alias("__total")]
    for c in cols:
        col = F.col(c)
        aggs += [
            F.sum(col.isNull().cast("long")).alias(f"{c}__nulls"),
            F.approx_count_distinct(col).alias(f"{c}__approx"),
            F.min(col).cast("string").alias(f"{c}__min"),
            F.max(col).cast("string").alias(f"{c}__max"),
        ]
        if exact:
            aggs.append(F.countDistinct(col).alias(f"{c}__distinct"))
        else:
            aggs.append(F.approx_count_distinct(col).alias(f"{c}__distinct"))
    wide = df.agg(*aggs)

    # Unpivot: one struct per column, explode to rows (driver never sees data).
    structs = [
        F.struct(
            F.lit(c).alias("column_name"),
            (F.col(f"{c}__nulls") / F.greatest(F.col("__total"), F.lit(1))).alias(
                "null_rate"
            ),
            F.col(f"{c}__distinct").alias("n_distinct"),
            F.col(f"{c}__approx").alias("approx_distinct"),
            F.col(f"{c}__min").alias("min_value"),
            F.col(f"{c}__max").alias("max_value"),
        )
        for c in cols
    ]
    return wide.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def length_histogram(
    df: DataFrame, column: str, lo: int = 0, hi: int = 2000, n_buckets: int = 20
) -> DataFrame:
    """Histogram of string/binary lengths — fixed-width buckets with
    under/overflow clamped into the edge buckets. Output:
    ``bucket, bucket_lo, bucket_hi, n``. Plain groupBy → one shuffle of at
    most ``n_buckets`` groups after map-side combine."""
    width = max(1, (hi - lo) // n_buckets)
    ln = F.length(F.col(column))
    raw = F.floor((ln - F.lit(lo)) / F.lit(width))
    bucket = F.least(F.greatest(raw, F.lit(0)), F.lit(n_buckets - 1))
    return (
        df.filter(ln.isNotNull())
        .groupBy(bucket.cast("int").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("bucket_lo", F.col("bucket") * width + lo)
        .withColumn("bucket_hi", (F.col("bucket") + 1) * width + lo)
        .select("bucket", "bucket_lo", "bucket_hi", "n")
    )


def frequent_values(
    df: DataFrame, column: str, k: int = 10, n_salts: int = 16
) -> DataFrame:
    """Top-k most frequent values of a column (the data-quality
    "frequent items" profile), deterministic tie-break (n DESC, value
    ASC). Output: ``column_name, value, n, rank`` (value stringified so
    heterogeneous columns can union into one profile table).

    Scale shape: the hot values ARE the skewed keys — a plain
    ``groupBy(column)`` would put every occurrence of the most frequent
    value in one reducer, which is exactly the row this profile exists to
    find. The count is therefore the two-phase salted aggregation
    (operators/skew.py — AQE does not skew-split aggregations); its
    output is one row per DISTINCT value (already reduced), and the
    global top-k plans as TakeOrdered over those rows — no full sort, no
    single-reducer hot key. NULLs are excluded (profile() reports
    null_rate separately)."""
    from pyspark.sql import Window

    from validate_xml_rust_spark.operators.skew import salted_agg

    base = df.select(F.col(column).cast("string").alias("value")).filter(
        F.col("value").isNotNull()
    )
    counts = salted_agg(base, ["value"], [("count", None, "n")], n_salts=n_salts)
    top = counts.orderBy(F.col("n").desc(), F.col("value").asc()).limit(k)
    # rank assigned AFTER the TakeOrdered — the window's single-partition
    # exchange carries only k rows
    w = Window.orderBy(F.col("n").desc(), F.col("value").asc())
    return top.select(
        F.lit(column).alias("column_name"),
        "value",
        F.col("n").cast("long").alias("n"),
        F.row_number().over(w).cast("long").alias("rank"),
    )


def numeric_percentiles(
    df: DataFrame,
    columns: list[str],
    probabilities: tuple[float, ...] = (0.5, 0.9, 0.99),
    exact: bool = False,
    accuracy: int = 10_000,
) -> DataFrame:
    """Per-column quantiles, long format ``(column_name, p, value)``.

    ``exact=False`` (the 100-TB default) uses ``approx_percentile`` —
    Spark's mergeable Greenwald-Khanna sketch: each task keeps an
    O(accuracy·log n) summary, partials combine map-side, and ONE sketch
    per column reaches the driver — no global sort, error ≤ 1/accuracy
    in rank. ``exact=True`` is the audit path (``percentile`` — a
    sort-based aggregation whose cost at corpus scale is the full value
    shuffle; fine per-group, wrong corpus-wide). The bench pairs both at
    identical probabilities so the trade is measured, not asserted; the
    pytest pins the sketch within rank tolerance of exact."""
    if not columns:
        return df.sparkSession.createDataFrame(
            [], "column_name string, p double, value double"
        )
    fn = "percentile" if exact else "approx_percentile"
    acc = "" if exact else f", {accuracy}"
    aggs = []
    for c in columns:
        arr = ", ".join(str(p) for p in probabilities)
        # backtick-quote: a column name that is not a bare identifier
        # (spaces, hyphens, reserved words) must not break — or worse,
        # mis-resolve inside — the generated expression
        aggs.append(
            F.expr(f"{fn}(`{c}`, array({arr}){acc})").alias(f"{c}__q")
        )
    row = df.agg(*aggs)
    # an all-NULL (or zero-row) column aggregates to a NULL array;
    # coalesce to NULL VALUES so the column keeps its (c, p) rows in the
    # output instead of silently vanishing through posexplode
    null_arr = F.array(
        *[F.lit(None).cast("double") for _ in probabilities]
    )
    out = None
    for c in columns:
        part = row.select(
            F.lit(c).alias("column_name"),
            F.posexplode(F.coalesce(F.col(f"{c}__q"), null_arr)).alias(
                "__i", "value"
            ),
        ).select(
            "column_name",
            F.element_at(
                F.array(*[F.lit(float(p)) for p in probabilities]),
                F.col("__i") + 1,
            ).alias("p"),
            F.col("value").cast("double").alias("value"),
        )
        out = part if out is None else out.unionByName(part)
    return out


def fd_violations(
    df: DataFrame,
    determinant: list[str] | str,
    dependent: str,
    max_examples: int = 3,
) -> DataFrame:
    """Functional-dependency check (the Deequ/profiler classic): report
    every determinant value that maps to MORE than one dependent value —
    X → Y should hold (url → host, zip → state, spec_id → spec_version);
    each violating key row carries the distinct-Y count, how many rows
    sit under the key, and up to ``max_examples`` sorted example values
    for the violation report.

    NULL semantics: rows with a NULL in the determinant are excluded (no
    key identity); a NULL dependent counts as a distinct value (a key
    mapping to both 'x' and NULL IS two bindings — SQL count(distinct)
    would hide it, so the implementation counts NULL explicitly).

    Scale shape: one shuffle on the determinant key via Spark's two-phase
    distinct aggregation — stage 1 partial-deduplicates (key, Y) pairs
    map-side, so a hot key's rows spread over reducers; examples come
    from a bounded slice of a sorted distinct array, never collect.
    (The per-key example set is collected before slicing, so per-key
    DISTINCT dependent cardinality is assumed bounded — true for any FD
    worth checking; for an unbounded Y read only n_dependent_values.)
    """
    dets = [determinant] if isinstance(determinant, str) else list(determinant)
    cond = F.col(dets[0]).isNotNull()
    for c in dets[1:]:
        cond = cond & F.col(c).isNotNull()
    keyed = df.filter(cond)
    # NULL dependent → sentinel so it participates in distinct counting;
    # collision-proof tagging (values get a 'v' prefix, NULL the bare tag)
    y = F.col(dependent).cast("string")
    y_tag = F.when(y.isNull(), F.lit("\x00")).otherwise(F.concat(F.lit("v"), y))
    return (
        keyed.groupBy(*[F.col(c).alias(c) for c in dets])
        .agg(
            # size of the collected set, NOT countDistinct: a second
            # distinct aggregate alongside collect_set forces Spark's
            # two-exchange distinct rewrite; the set is already exact
            # (y_tag is never NULL) and partial collect_set still dedups
            # map-side, so this keeps the whole check to ONE shuffle
            F.array_sort(F.collect_set(y_tag)).alias("__set"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .withColumn("n_dependent_values", F.size("__set").cast("long"))
        .withColumn("__ex", F.slice("__set", 1, max_examples))
        .drop("__set")
        .where(F.col("n_dependent_values") > 1)
        .withColumn(
            "example_values",
            F.transform(
                F.col("__ex"),
                lambda t: F.when(t == "\x00", F.lit("<null>")).otherwise(
                    F.substring(t, 2, 2_000_000)
                ),
            ),
        )
        .drop("__ex")
    )


def profile_diff(
    old_profile: DataFrame,
    new_profile: DataFrame,
    rel_threshold: float = 0.1,
    eps: float = 1e-9,
) -> DataFrame:
    """Cross-snapshot profile comparison — the monitoring complement to
    the drift checks: given two `profile()` outputs (yesterday's snapshot
    vs today's), unpivot the numeric metrics (null_rate, n_distinct) and
    flag relative changes above ``rel_threshold``. A column present in
    only one snapshot (schema evolution) appears with the other side
    NULL and is always flagged.

    Profiles are O(columns) rows, so the whole comparison is driver-scale
    regardless of the table sizes that produced them — store each run's
    profile in a metrics table and diff any two snapshots for free.
    """
    metrics = ["null_rate", "n_distinct"]

    def unpivot(p: DataFrame, tag: str) -> DataFrame:
        return p.select(
            "column_name", *[F.col(m).cast("double").alias(m) for m in metrics]
        ).unpivot("column_name", metrics, "metric", tag)

    o = unpivot(old_profile, "old_value")
    n = unpivot(new_profile, "new_value")
    j = o.join(n, ["column_name", "metric"], "full_outer")
    rel = F.abs(F.col("new_value") - F.col("old_value")) / F.greatest(
        F.abs(F.col("old_value")), F.lit(float(eps))
    )
    return j.select(
        "column_name",
        "metric",
        "old_value",
        "new_value",
        F.when(
            F.col("old_value").isNull() | F.col("new_value").isNull(),
            F.lit(None).cast("double"),
        )
        .otherwise(F.round(rel, 6))
        .alias("rel_change"),
        (
            F.col("old_value").isNull()
            | F.col("new_value").isNull()
            | (rel > rel_threshold)
        ).alias("flagged"),
    )


def corpus_datasheet(
    df: DataFrame,
    text_col: str = "text",
    group_cols: tuple[str, ...] = ("lang", "source"),
    probabilities: tuple[float, ...] = (0.25, 0.5, 0.75, 0.9, 0.99),
    exact: bool = True,
    accuracy: int = 10_000,
) -> DataFrame:
    """Corpus datasheet ("datasheets for datasets" — Gebru et al. 2021):
    the one-page composition summary a training-data release ships with,
    as a LONG frame ``(section, key, metric, value double)``:

    - ``corpus`` section (key ``*``): n_docs, chars_total, chars_mean,
      null_text_frac;
    - one section per ``group_cols`` entry (key = group value, NULL
      grouped as ``__null__``): the same metrics plus ``share`` of docs;
    - ``length`` section (key = probability): exact percentiles of the
      text length distribution.

    Scale shape: all group sections AND the corpus totals come from ONE
    aggregation over GROUPING SETS ((g1), (g2), ()) — a single shuffle
    whose Expand factor is len(group_cols)+1, output bounded by group
    cardinalities, so ``share`` is computed from the ()-row with a
    window over the tiny AGGREGATED frame, never a second corpus pass.
    The percentile agg is the one other pass (sort-based exact — swap
    for numeric_percentiles' GK sketch at 10^12 rows).

    Contract: an EMPTY corpus yields an EMPTY datasheet (Spark's
    grouping-sets Expand emits nothing on empty input, and the NULL
    percentile array explodes to zero rows — the oracle restatement
    matches with HAVING guards); an all-NULL-text corpus keeps its
    composition sections but has no length section."""
    from pyspark.sql.window import Window

    t = F.col(text_col)
    chars = F.length(t)
    sets = [[c] for c in group_cols] + [[]]
    g = df.groupingSets(sets, *[F.col(c) for c in group_cols]).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.coalesce(chars, F.lit(0)).cast("long")).alias("chars_total"),
        F.round(F.avg(chars), 6).alias("chars_mean"),
        F.round(F.avg(t.isNull().cast("double")), 6).alias("null_text_frac"),
        *[F.grouping(c).alias(f"__g_{c}") for c in group_cols],
    )
    section = F.lit("corpus")
    key = F.lit("*")
    for c in group_cols:
        active = F.col(f"__g_{c}") == 0
        section = F.when(active, F.lit(c)).otherwise(section)
        key = F.when(
            active, F.coalesce(F.col(c).cast("string"), F.lit("__null__"))
        ).otherwise(key)
    g = g.select(
        section.alias("section"), key.alias("key"),
        "n_docs", "chars_total", "chars_mean", "null_text_frac",
    )
    total = F.max(
        F.when(F.col("section") == "corpus", F.col("n_docs"))
    ).over(Window.partitionBy())
    g = g.withColumn("share", F.round(F.col("n_docs") / total, 6))
    metrics = ["n_docs", "chars_total", "chars_mean", "null_text_frac"]
    stacked = g.select(
        "section", "key",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("metric"),
                        F.col(m).cast("double").alias("value"),
                    )
                    for m in metrics
                ]
                + [
                    F.struct(
                        F.lit("share").alias("metric"),
                        F.when(F.col("section") != "corpus", F.col("share"))
                        .cast("double")
                        .alias("value"),
                    )
                ]
            )
        ).alias("mv"),
    ).select("section", "key", "mv.metric", "mv.value")
    # the corpus row's share is definitionally 1 — emit it as NULL-free
    stacked = stacked.filter(
        ~((F.col("section") == "corpus") & (F.col("metric") == "share"))
    )
    # exact=False swaps in the GK sketch (approx_percentile): partials
    # merge map-side and no raw length ever shuffles — the 10^12-row
    # default, same trade as numeric_percentiles above
    fn = "percentile" if exact else "approx_percentile"
    acc = "" if exact else f", {accuracy}"
    arr = ", ".join(str(p) for p in probabilities)
    pct = df.agg(
        F.expr(f"{fn}(length(`{text_col}`), array({arr}){acc})").alias("__q")
    ).select(F.posexplode(F.col("__q")).alias("__i", "value"))
    pct = pct.select(
        F.lit("length").alias("section"),
        F.element_at(
            F.array(*[F.lit(str(p)) for p in probabilities]),
            F.col("__i") + 1,
        ).alias("key"),
        F.lit("n_chars_pct").alias("metric"),
        # cast first: approx_percentile over a bigint column yields
        # bigint quantiles, and the long frame's value column is double
        F.round(F.col("value").cast("double"), 6).alias("value"),
    )
    return stacked.unionByName(pct)


def datasheet_diff(
    old_ds: DataFrame,
    new_ds: DataFrame,
    rel_threshold: float = 0.1,
    eps: float = 1e-9,
) -> DataFrame:
    """Snapshot-over-snapshot comparison of two ``corpus_datasheet``
    frames — the release-gating complement to profile_diff: which
    composition metrics (per-language shares, host populations, length
    percentiles) moved between two corpus snapshots, by how much, and
    which moved past the threshold. A (section, key, metric) present in
    only one snapshot (a language or host appearing/disappearing) shows
    the other side NULL and is always flagged — exactly the row a
    release review wants in front of it.

    Same arithmetic as profile_diff (|new−old| / max(|old|, eps),
    6dp-rounded, NULL rel on one-sided rows) over the datasheet's finer
    (section, key, metric) grain. Datasheets are O(groups) rows, so the
    diff is driver-scale no matter the corpora behind them."""
    keys = ["section", "key", "metric"]
    o = old_ds.select(*keys, F.col("value").alias("old_value"))
    n = new_ds.select(*keys, F.col("value").alias("new_value"))
    j = o.join(n, keys, "full_outer")
    rel = F.abs(F.col("new_value") - F.col("old_value")) / F.greatest(
        F.abs(F.col("old_value")), F.lit(float(eps))
    )
    return j.select(
        *keys,
        "old_value",
        "new_value",
        F.when(
            F.col("old_value").isNull() | F.col("new_value").isNull(),
            F.lit(None).cast("double"),
        )
        .otherwise(F.round(rel, 6))
        .alias("rel_change"),
        (
            F.col("old_value").isNull()
            | F.col("new_value").isNull()
            | (rel > rel_threshold)
        ).alias("flagged"),
    )
