"""Driver-facing query pack: each entry pairs a Spark DataFrame program with
an ANSI-SQL oracle (DuckDB) over the same parquet tables.

Conventions (driver contract):
- every computed column is aliased identically in Spark and SQL,
- money sums go through DECIMAL(18,2) on BOTH sides (exact, order-
  independent — double sums differ across engines in the last ulps),
- rates/ratios are rounded to 6 decimals on both sides,
- deterministic ORDER BY friendly output (driver sorts anyway).

The validation queries run the real engine (specs → verdicts → violations →
summary) over the ``documents`` table; the oracle re-states the same
semantics in SQL, proving the rule compiler's Column-expression output
agrees with a from-scratch declarative restatement.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from validate_xml_rust_spark.operators.referential import referential_violations
from validate_xml_rust_spark.operators.summary import summarize
from validate_xml_rust_spark.operators.uniqueness import duplicate_keys
from validate_xml_rust_spark.operators.validate import validate
from validate_xml_rust_spark.session import local_frame
from validate_xml_rust_spark.specs import Constraint, Spec, SpecRegistry


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# committed oracle fixtures travel with the package — derive their location
# from the module, not a hardcoded checkout path
_FIXTURES = Path(__file__).resolve().parents[1] / "fixtures"


# ---------------------------------------------------------------------------
# Documents validation spec: routed by lang; es → missing spec (error row),
# zh → unrouted (skipped), en/de/fr → doc-v1.
# ---------------------------------------------------------------------------

DOC_ROUTED = ["en", "de", "fr"]
DOC_MISSING_ROUTE = "es"  # routed to a spec_id absent from the registry
N_CHARS_LO, N_CHARS_HI = 100, 450


def doc_registry() -> SpecRegistry:
    spec = Spec(
        "doc-v1",
        (
            Constraint("text_not_null", "text", "not_null"),
            Constraint("n_chars_range", "n_chars", "range", {"lo": N_CHARS_LO, "hi": N_CHARS_HI}),
            Constraint("source_format", "source", "regex", {"pattern": r"^src[0-9]+$"}),
            Constraint("text_matches_n_chars", "n_chars", "expr",
                       {"predicate": "length(text) = n_chars"}),
        ),
    )
    reg = SpecRegistry().add(spec, route_keys=DOC_ROUTED)
    reg.add_route(DOC_MISSING_ROUTE, "doc-missing-v9")
    return reg


def _doc_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").withColumn(
        "doc_key", F.col("doc_id").cast("string")
    )
    res = validate(
        docs, spark, doc_registry(), route_col="lang", id_col="doc_key",
        partition_col=None,
    )
    return res


# The oracle restatement of doc-v1's row checks (used by several oracles).
_ORACLE_FAILS = f"""
    (CASE WHEN text IS NULL THEN 1 ELSE 0 END)
  + (CASE WHEN n_chars IS NOT NULL AND (n_chars < {N_CHARS_LO} OR n_chars > {N_CHARS_HI}) THEN 1 ELSE 0 END)
  + (CASE WHEN source IS NOT NULL AND NOT regexp_matches(source, '^src[0-9]+$') THEN 1 ELSE 0 END)
  + (CASE WHEN NOT coalesce(length(text) = n_chars, FALSE) THEN 1 ELSE 0 END)
"""

_ORACLE_STATUS = f"""
  CASE WHEN lang IS NULL OR lang NOT IN ('en','de','fr','es') THEN 'skipped'
       WHEN lang = 'es' THEN 'error'
       WHEN ({_ORACLE_FAILS}) > 0 THEN 'invalid'
       ELSE 'valid' END
"""


def q_validate_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _doc_verdicts(spark, sf_dir).verdicts
    return v.select(
        F.col("url").alias("doc_key"),
        "spec_id",
        "status",
        "error_count",
    )


ORACLE_VALIDATE_VERDICTS = f"""
SELECT CAST(doc_id AS VARCHAR) AS doc_key,
       CASE WHEN lang IN ('en','de','fr') THEN 'doc-v1'
            WHEN lang = 'es' THEN 'doc-missing-v9' END AS spec_id,
       {_ORACLE_STATUS} AS status,
       CAST(CASE WHEN ({_ORACLE_STATUS}) = 'invalid' THEN ({_ORACLE_FAILS}) ELSE 0 END AS INT) AS error_count
FROM documents
"""


def q_validate_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _doc_verdicts(spark, sf_dir).violations()
    return v.select(
        F.col("url").alias("doc_key"), "constraint_id", "observed_value"
    )


ORACLE_VALIDATE_VIOLATIONS = f"""
WITH routed AS (SELECT * FROM documents WHERE lang IN ('en','de','fr'))
SELECT CAST(doc_id AS VARCHAR) AS doc_key, 'text_not_null' AS constraint_id,
       '<null>' AS observed_value
FROM routed WHERE text IS NULL
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 'n_chars_range', CAST(n_chars AS VARCHAR)
FROM routed WHERE n_chars IS NOT NULL AND (n_chars < {N_CHARS_LO} OR n_chars > {N_CHARS_HI})
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 'source_format', CAST(source AS VARCHAR)
FROM routed WHERE source IS NOT NULL AND NOT regexp_matches(source, '^src[0-9]+$')
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 'text_matches_n_chars', coalesce(CAST(n_chars AS VARCHAR), '<null>')
FROM routed WHERE NOT coalesce(length(text) = n_chars, FALSE)
"""


def q_validate_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _doc_verdicts(spark, sf_dir).verdicts
    s = summarize(v)
    return s.select(
        "total", "valid", "invalid", "error", "skipped",
        F.round("success_rate", 6).alias("success_rate"),
        F.concat_ws(",", "schemas_used").alias("schemas_used"),
    )


ORACLE_VALIDATE_SUMMARY = f"""
WITH v AS (SELECT {_ORACLE_STATUS} AS status FROM documents)
SELECT count(*) AS total,
       count(*) FILTER (WHERE status='valid') AS valid,
       count(*) FILTER (WHERE status='invalid') AS invalid,
       count(*) FILTER (WHERE status='error') AS error,
       count(*) FILTER (WHERE status='skipped') AS skipped,
       round(count(*) FILTER (WHERE status='valid') * 100.0 / count(*), 6) AS success_rate,
       'doc-missing-v9,doc-v1' AS schemas_used
FROM v
"""


def q_profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from validate_xml_rust_spark.operators.profile import profile

    docs = _t(spark, sf_dir, "documents")
    p = profile(docs, ["lang", "source", "n_chars"], exact=True)
    return p.select(
        "column_name",
        F.round("null_rate", 6).alias("null_rate"),
        "n_distinct", "min_value", "max_value",
    )


# the md5-derived 32-bit sampling ticket, restated for DuckDB: Σ nibble·16^k
def _oracle_mix_ticket(key_sql: str, seed: str) -> str:
    """Parametrized DuckDB restatement of curation.sample_ticket."""
    return (
        "list_sum(list_transform(range(1, 9), i -> "
        f"(strpos('0123456789abcdef', substr(md5('{seed}:' || {key_sql}), "
        "CAST(i AS INT), 1)) - 1) * power(16, 8 - i)))"
    )


ORACLE_PROFILE_DOCUMENTS = """
SELECT 'lang' AS column_name,
       round(CAST(count(*) FILTER (WHERE lang IS NULL) AS DOUBLE)/count(*), 6) AS null_rate,
       count(DISTINCT lang) AS n_distinct,
       CAST(min(lang) AS VARCHAR) AS min_value, CAST(max(lang) AS VARCHAR) AS max_value
FROM documents
UNION ALL
SELECT 'source', round(CAST(count(*) FILTER (WHERE source IS NULL) AS DOUBLE)/count(*), 6),
       count(DISTINCT source), CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR)
FROM documents
UNION ALL
SELECT 'n_chars', round(CAST(count(*) FILTER (WHERE n_chars IS NULL) AS DOUBLE)/count(*), 6),
       count(DISTINCT n_chars), CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR)
FROM documents
"""

_DS_PCTS = (0.25, 0.5, 0.75, 0.9, 0.99)


def q_corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus datasheet (profile.corpus_datasheet): composition summary
    as a long (section, key, metric, value) frame — corpus totals plus
    per-lang / per-source sections from ONE GROUPING SETS aggregation
    (share off the ()-row via a post-agg window), and exact text-length
    percentiles. The oracle restates the grouping sets, the share
    arithmetic, and quantile_cont in DuckDB."""
    from validate_xml_rust_spark.operators.profile import corpus_datasheet

    docs = _t(spark, sf_dir, "documents")
    return corpus_datasheet(docs, probabilities=_DS_PCTS)


def _oracle_datasheet(where: str) -> str:
    """The corpus-datasheet restatement, parametrized by a WHERE clause
    so the snapshot-diff oracle can derive two datasheets from one
    table (the datasheet_diff gate)."""
    return f"""
WITH g AS (
  SELECT CASE WHEN GROUPING(lang) = 0 THEN 'lang'
              WHEN GROUPING(source) = 0 THEN 'source'
              ELSE 'corpus' END AS section,
         CASE WHEN GROUPING(lang) = 0
                THEN coalesce(CAST(lang AS VARCHAR), '__null__')
              WHEN GROUPING(source) = 0
                THEN coalesce(CAST(source AS VARCHAR), '__null__')
              ELSE '*' END AS key,
         count(*) AS n_docs,
         sum(coalesce(length(text), 0)) AS chars_total,
         round(avg(length(text)), 6) AS chars_mean,
         round(avg(CASE WHEN text IS NULL THEN 1.0 ELSE 0.0 END), 6)
           AS null_text_frac
  FROM documents {where}
  GROUP BY GROUPING SETS ((lang), (source), ())
  HAVING count(*) > 0),
tot AS (SELECT n_docs AS total FROM g WHERE section = 'corpus'),
q AS (SELECT quantile_cont(length(text),
             [{", ".join(str(p) for p in _DS_PCTS)}]) AS qs
      FROM documents {where}
      HAVING quantile_cont(length(text), 0.5) IS NOT NULL)
SELECT section, key, 'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS value FROM g
UNION ALL
SELECT section, key, 'chars_total', CAST(chars_total AS DOUBLE) FROM g
UNION ALL
SELECT section, key, 'chars_mean', chars_mean FROM g
UNION ALL
SELECT section, key, 'null_text_frac', null_text_frac FROM g
UNION ALL
SELECT section, key, 'share',
       round(CAST(n_docs AS DOUBLE) / (SELECT total FROM tot), 6)
FROM g WHERE section <> 'corpus'
UNION ALL
SELECT 'length',
       [{", ".join(f"'{p}'" for p in _DS_PCTS)}][i],
       'n_chars_pct', round(qs[i], 6)
FROM q, unnest(range(1, {len(_DS_PCTS) + 1})) AS t(i)
"""


ORACLE_CORPUS_DATASHEET = _oracle_datasheet("")


def q_profile_documents_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column profile + corpus datasheet, one gate."""
    a = q_profile_documents(spark, sf_dir).withColumn(
        "variant", F.lit("profile")
    )
    b = q_corpus_datasheet(spark, sf_dir).withColumn(
        "variant", F.lit("datasheet")
    )
    return a.unionByName(b, allowMissingColumns=True)


_PROFILE_NULLS = (
    "CAST(NULL AS VARCHAR) AS section, CAST(NULL AS VARCHAR) AS key, "
    "CAST(NULL AS VARCHAR) AS metric, CAST(NULL AS DOUBLE) AS value"
)

ORACLE_PROFILE_DOCUMENTS_SUITE = f"""
SELECT 'profile' AS variant, t.*, {_PROFILE_NULLS} FROM (
{ORACLE_PROFILE_DOCUMENTS}
) t
UNION ALL
SELECT 'datasheet' AS variant, CAST(NULL AS VARCHAR) AS column_name,
       CAST(NULL AS DOUBLE) AS null_rate, CAST(NULL AS BIGINT) AS n_distinct,
       CAST(NULL AS VARCHAR) AS min_value, CAST(NULL AS VARCHAR) AS max_value,
       t.* FROM (
{ORACLE_CORPUS_DATASHEET}
) t
"""


def q_frequent_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-items profile (profile.frequent_values): top-5 values of
    two skew-shaped columns — documents.lang and events.event_type —
    counted through the two-phase salted aggregation and ranked with the
    deterministic (n DESC, value ASC) tie-break. The oracle re-derives
    both top-k lists with a plain GROUP BY + row_number window."""
    from validate_xml_rust_spark.operators.profile import frequent_values

    docs = _t(spark, sf_dir, "documents")
    events = _t(spark, sf_dir, "events")
    return frequent_values(docs, "lang", k=5).unionByName(
        frequent_values(events, "event_type", k=5)
    )


ORACLE_FREQUENT_VALUES = """
WITH cl AS (SELECT CAST(lang AS VARCHAR) AS value, count(*) AS n
            FROM documents WHERE lang IS NOT NULL GROUP BY 1),
rl AS (SELECT 'lang' AS column_name, value, CAST(n AS BIGINT) AS n,
              CAST(row_number() OVER (ORDER BY n DESC, value) AS BIGINT) AS rank
       FROM cl),
ce AS (SELECT CAST(event_type AS VARCHAR) AS value, count(*) AS n
       FROM events WHERE event_type IS NOT NULL GROUP BY 1),
re AS (SELECT 'event_type' AS column_name, value, CAST(n AS BIGINT) AS n,
              CAST(row_number() OVER (ORDER BY n DESC, value) AS BIGINT) AS rank
       FROM ce)
SELECT * FROM rl WHERE rank <= 5
UNION ALL
SELECT * FROM re WHERE rank <= 5
"""


def q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from validate_xml_rust_spark.operators.profile import length_histogram

    docs = _t(spark, sf_dir, "documents")
    return length_histogram(docs, "text", lo=0, hi=600, n_buckets=12)


ORACLE_LENGTH_HISTOGRAM = """
WITH b AS (
  SELECT least(greatest(CAST(floor(length(text)/50) AS INT), 0), 11) AS bucket
  FROM documents WHERE text IS NOT NULL)
SELECT bucket, CAST(bucket*50 AS INT) AS bucket_lo,
       CAST((bucket+1)*50 AS INT) AS bucket_hi, count(*) AS n
FROM b GROUP BY bucket
"""


def q_duplicate_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return duplicate_keys(orders, ["o_custkey"], n_salts=8)


ORACLE_DUPLICATE_CUSTKEYS = """
SELECT o_custkey, count(*) AS n_dup FROM orders
GROUP BY o_custkey HAVING count(*) > 1
"""


def q_duplicate_custkeys_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same exact dup set through the Bloom suspected-key pre-pass
    (operators/uniqueness.bloom_suspects): per-partition packed blooms →
    driver fold → broadcast probe, so only suspected keys reach the
    groupBy shuffle. The pre-pass is a guaranteed superset (no false
    negatives), hence the oracle is IDENTICAL to duplicate_custkeys —
    equality proves the pruning never drops a real duplicate."""
    orders = _t(spark, sf_dir, "orders")
    return duplicate_keys(orders, ["o_custkey"], n_salts=8, bloom=True)


def q_referential_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    # parent = "registered" customers (positive balance) — planted misses
    parents = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0)
    return referential_violations(
        orders, parents, "o_custkey", "c_custkey",
        constraint_id="custkey_in_registry", id_col="o_orderkey",
    )


ORACLE_REFERENTIAL_ORDERS = """
SELECT CAST(o_orderkey AS VARCHAR) AS url,
       'custkey_in_registry' AS constraint_id,
       CAST(o_custkey AS VARCHAR) AS observed_value,
       'o_custkey not found in parent c_custkey' AS message
FROM orders
WHERE o_custkey IS NOT NULL
  AND o_custkey NOT IN (SELECT c_custkey FROM customer
                        WHERE c_acctbal > 0 AND c_custkey IS NOT NULL)
"""
# ^ the IS NOT NULL inside the subquery pins SQL NOT-IN's null semantics to
# the anti-join's (one NULL parent key would otherwise empty the result).


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped flagship aggregate (SURVEY.md A1/A2 analog at scale).

    Sums accumulate in DECIMAL (exact, order-independent across partitions)
    and only the FINAL projection casts to DOUBLE: both engines convert the
    same exact decimal digits to the same nearest double, and doubles hash
    identically through the driver's canonicalization (Decimal objects do
    not — Spark widens sum(decimal(18,2)) to decimal(28,2), DuckDB to
    decimal(38,2), and the two render differently)."""
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    disc = F.col("l_discount").cast("decimal(18,4)")
    sum_qty = F.sum(F.col("l_quantity").cast("decimal(18,2)"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            sum_qty.cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - disc))
            .cast("double").alias("sum_disc_price"),
            # avg from the exact decimal sum (NOT fp-accumulated avg, whose
            # partition order would make the last ulps nondeterministic)
            F.round(sum_qty.cast("double") / F.count(F.lit(1)), 6).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


ORACLE_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS sum_disc_price,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_qty,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: orders ⋈ customer ⋈ nation — dims broadcast explicitly."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            # exact decimal accumulation, double at the output boundary
            # (see q_pricing_summary for why)
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


ORACLE_REVENUE_BY_NATION = """
SELECT n_name, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window batch aggregation (streaming A1 analog)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("hour"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


ORACLE_EVENTS_HOURLY = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       count(*) AS n, round(sum(value), 4) AS sum_value
FROM events GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Dedup / fingerprint / text-analysis / similarity queries
# ---------------------------------------------------------------------------


def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from validate_xml_rust_spark.operators.textstats import doc_fingerprint

    docs = _t(spark, sf_dir, "documents")
    return doc_fingerprint(docs).select("doc_id", "fp_md5")


ORACLE_DOC_FINGERPRINTS = r"""
SELECT doc_id, md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp_md5
FROM documents
"""


def q_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup groups over the PLANTED corpus (the sf documents table
    carries no duplicate texts, which would make this gate a zero-row
    0==0 match): every ``id % 17 == 0`` doc is a byte-exact copy of its
    predecessor, so both engines must find the same ~35 groups. Spark
    runs the live generator; the oracle reads the committed snapshot of
    the same rows (fixtures/synthetic_docs_600.parquet)."""
    from validate_xml_rust_spark.operators.dedup import exact_duplicates
    from validate_xml_rust_spark.sources.corpus import synthetic_documents

    return exact_duplicates(synthetic_documents(spark, 600, n_partitions=8))


ORACLE_EXACT_DUP_GROUPS = rf"""
SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint,
       count(*) AS n_dup, min(doc_id) AS keep_id
FROM '{_FIXTURES / "synthetic_docs_600.parquet"}'
GROUP BY 1 HAVING count(*) > 1
"""


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-incremental dedup suite, both store families:

    - ``exact``: dedup.incremental_dedup — re-ingesting the planted
      corpus against a historical EXACT-fingerprint store covering ids
      < 200; survivors are the rows whose content is NEW to the store,
      deduped within the slice (min id per fingerprint). Generation NULL
      (the exact store has no generation structure in this gate).
    - ``lsh_store``: dedup.incremental_near_dedup — a TWO-GENERATION run
      against a persisted SignatureStore: slice A (doc_id % 3 != 2)
      bootstraps generation 1, slice B (doc_id % 3 == 2) near-dedups
      against A's committed band signatures and commits generation 2.
      The oracle re-derives BOTH runs from scratch with brute-force
      string-shingle Jaccard over the union corpus (LSH-free: within-A
      closure → min-id keepers → store; B docs tainted by any store
      match, component-level taint propagation, min-id keepers among the
      clean components) — equality proves the store join + exact-verify
      path loses no pair and invents none, at the same J ≥ 0.9 planted /
      0.6 threshold recall margin as the other LSH gates."""
    import tempfile

    from validate_xml_rust_spark.operators.dedup import (
        SignatureStore,
        fingerprint,
        incremental_dedup,
        incremental_near_dedup,
    )
    from validate_xml_rust_spark.ckpt import eager_checkpoint, release_blocks
    from validate_xml_rust_spark.sources.corpus import synthetic_documents

    docs = synthetic_documents(spark, 600, n_partitions=8)
    seen = fingerprint(docs.filter(F.col("doc_id") < 200)).select("fingerprint")
    exact = incremental_dedup(docs, seen).select(
        F.lit("exact").alias("variant"),
        "doc_id",
        "text",
        F.lit(None).cast("long").alias("generation"),
    )

    store = SignatureStore(
        spark, tempfile.mkdtemp(prefix="vxrs_signstore_"),
        num_perm=32, bands=8, shingle_k=3,
    )
    st0: dict = {}
    st1: dict = {}
    s0 = incremental_near_dedup(
        docs.filter(F.col("doc_id") % 3 != 2), store, threshold=0.6, stats=st0
    )
    s1 = incremental_near_dedup(
        docs.filter(F.col("doc_id") % 3 == 2), store, threshold=0.6, stats=st1
    )
    lsh = s0.select(
        F.lit("lsh_store").alias("variant"),
        "doc_id",
        "text",
        F.lit(1).cast("long").alias("generation"),
    ).unionByName(
        s1.select(
            F.lit("lsh_store").alias("variant"),
            "doc_id",
            "text",
            F.lit(2).cast("long").alias("generation"),
        )
    )
    out, _ = eager_checkpoint(exact.unionByName(lsh))
    release_blocks(
        spark.sparkContext,
        st0.get("ckpt_block_ids", frozenset())
        | st1.get("ckpt_block_ids", frozenset()),
    )
    return out


_ORACLE_INCR_EXACT = rf"""
WITH d0 AS (
  SELECT doc_id, text,
         md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS f
  FROM '{_FIXTURES / "synthetic_docs_600.parquet"}'),
hist AS (SELECT DISTINCT f FROM d0 WHERE doc_id < 200),
fresh AS (SELECT doc_id, text, f FROM d0
          WHERE NOT EXISTS (SELECT 1 FROM hist WHERE hist.f = d0.f))
SELECT doc_id, text FROM (
  SELECT doc_id, text, f, min(doc_id) OVER (PARTITION BY f) AS kid FROM fresh)
-- f IS NULL: NULL-text rows ALL survive — the window alone would group
-- every NULL fingerprint into one partition and keep only the min id,
-- the opposite of the engine's SQL-UNIQUE NULL rule (exact_dedup)
WHERE doc_id = kid OR f IS NULL
"""

# Two-generation SignatureStore run re-derived WITHOUT the store or LSH:
# brute-force string-shingle Jaccard pairs over the union corpus, then
# run A's closure + keepers (→ the store contents), run B's taint set
# (any pair into the store), component-level taint propagation, and run
# B's keepers — the incremental semantics restated from first principles.
_ORACLE_INCR_LSH = rf"""
WITH RECURSIVE toks AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(lower(trim(coalesce(text,''))), '[^a-z0-9]+'),
                     x -> length(x) > 0) AS w
  FROM '{_FIXTURES / "synthetic_docs_600.parquet"}'),
shg AS (
  SELECT doc_id,
         CASE WHEN len(w) = 0 THEN []
              WHEN len(w) >= 3 THEN
                list_distinct(list_transform(range(1, len(w) - 1),
                              i -> array_to_string(w[i:i+2], ' ')))
              ELSE [array_to_string(w, ' ')] END AS s
  FROM toks),
ja AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM shg a JOIN shg b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        / greatest(len(list_distinct(list_concat(a.s, b.s))), 1) >= 0.6),
ea AS (SELECT id_a AS s, id_b AS d FROM ja WHERE id_a % 3 != 2 AND id_b % 3 != 2
       UNION SELECT id_b, id_a FROM ja WHERE id_a % 3 != 2 AND id_b % 3 != 2),
reacha(s, d) AS (
  SELECT s, d FROM ea
  UNION SELECT r.s, e.d FROM reacha r JOIN ea e ON r.d = e.s),
laba AS (SELECT s AS id, least(s, min(d)) AS component FROM reacha GROUP BY s),
s0 AS (
  SELECT d.doc_id FROM toks d LEFT JOIN laba l ON l.id = d.doc_id
  WHERE d.doc_id % 3 != 2 AND (l.id IS NULL OR l.component = d.doc_id)),
tainted AS (
  SELECT DISTINCT CASE WHEN id_a % 3 = 2 THEN id_a ELSE id_b END AS id
  FROM ja
  WHERE ((id_a % 3 = 2) <> (id_b % 3 = 2))
    AND (CASE WHEN id_a % 3 = 2 THEN id_b ELSE id_a END)
        IN (SELECT doc_id FROM s0)),
eb AS (SELECT id_a AS s, id_b AS d FROM ja WHERE id_a % 3 = 2 AND id_b % 3 = 2
       UNION SELECT id_b, id_a FROM ja WHERE id_a % 3 = 2 AND id_b % 3 = 2),
reachb(s, d) AS (
  SELECT s, d FROM eb
  UNION SELECT r.s, e.d FROM reachb r JOIN eb e ON r.d = e.s),
labb AS (SELECT s AS id, least(s, min(d)) AS component FROM reachb GROUP BY s),
labbed AS (
  SELECT d.doc_id, coalesce(l.component, d.doc_id) AS comp
  FROM toks d LEFT JOIN labb l ON l.id = d.doc_id
  WHERE d.doc_id % 3 = 2),
badcomp AS (SELECT DISTINCT comp FROM labbed
            WHERE doc_id IN (SELECT id FROM tainted)),
s1 AS (
  SELECT doc_id FROM labbed
  WHERE comp = doc_id AND comp NOT IN (SELECT comp FROM badcomp))
SELECT t.doc_id, t.text, g.generation
FROM (SELECT doc_id, CAST(1 AS BIGINT) AS generation FROM s0
      UNION ALL
      SELECT doc_id, CAST(2 AS BIGINT) FROM s1) g
JOIN toks t ON t.doc_id = g.doc_id
"""

ORACLE_INCREMENTAL_DEDUP = f"""
SELECT 'exact' AS variant, t.doc_id, t.text,
       CAST(NULL AS BIGINT) AS generation
FROM ({_ORACLE_INCR_EXACT}) t
UNION ALL
SELECT 'lsh_store', t.doc_id, t.text, t.generation
FROM ({_ORACLE_INCR_LSH}) t
"""


def q_model_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trainable quality classifier, scoring path
    (quality_model.score_quality_expr): the committed DECIMAL(18,9)
    token-weight fixture (trained deterministically by
    tools/make_fixtures.py on the labeled good/bad corpus) scores the
    live quality_corpus generator — explode tokens → broadcast-join
    weights → DECIMAL-exact logit sum. The oracle re-derives every logit
    by unnest + join over the committed corpus snapshot; the keep flag
    compares in DECIMAL, so both engines decide identically. The sigmoid
    stays out of the gate (libm last-ulp differences); it is monotone in
    the gated logit."""
    from validate_xml_rust_spark.operators.quality_model import score_quality_expr
    from validate_xml_rust_spark.sources.corpus import quality_corpus

    corp = quality_corpus(spark, 600, n_partitions=8)
    weights = spark.read.parquet(str(_FIXTURES / "quality_weights.parquet"))
    return score_quality_expr(corp, weights)


ORACLE_MODEL_QUALITY = rf"""
WITH w AS (SELECT token, weight
           FROM '{_FIXTURES / "quality_weights.parquet"}'
           WHERE token <> '__bias__'),
b AS (SELECT weight AS bias
      FROM '{_FIXTURES / "quality_weights.parquet"}'
      WHERE token = '__bias__'),
t AS (SELECT doc_id,
             unnest(list_filter(
               regexp_split_to_array(lower(trim(coalesce(text,''))), '[^a-z0-9]+'),
               x -> length(x) > 0)) AS token
      FROM '{_FIXTURES / "quality_corpus_600.parquet"}'),
s AS (SELECT doc_id, sum(weight) AS sw FROM t JOIN w USING (token) GROUP BY doc_id)
SELECT d.doc_id,
       round(CAST((SELECT bias FROM b) + coalesce(s.sw, 0) AS DOUBLE), 6) AS logit,
       ((SELECT bias FROM b) + coalesce(s.sw, 0)) > 0 AS keep
FROM '{_FIXTURES / "quality_corpus_600.parquet"}' d LEFT JOIN s USING (doc_id)
"""


def q_model_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table of the committed quality model on its labeled
    corpus (quality_model.calibration_report): DECIMAL-exact logits
    bucketed into 16 fixed bins over [-8, 8), each bin reporting
    population, mean logit, and empirical positive rate — the binning
    stays in logit space precisely so no sigmoid crosses engines. The
    oracle re-derives the logits from the committed weights and the
    bin arithmetic from scratch."""
    from validate_xml_rust_spark.operators.quality_model import (
        calibration_report,
        score_quality_expr,
    )
    from validate_xml_rust_spark.sources.corpus import quality_corpus

    corp = quality_corpus(spark, 600, n_partitions=8)
    weights = spark.read.parquet(str(_FIXTURES / "quality_weights.parquet"))
    scored = score_quality_expr(corp, weights).join(
        corp.select("doc_id", "label"), "doc_id"
    )
    return calibration_report(scored, score_col="logit", label_col="label")


ORACLE_MODEL_CALIBRATION = rf"""
WITH w AS (SELECT token, weight
           FROM '{_FIXTURES / "quality_weights.parquet"}'
           WHERE token <> '__bias__'),
b AS (SELECT weight AS bias
      FROM '{_FIXTURES / "quality_weights.parquet"}'
      WHERE token = '__bias__'),
t AS (SELECT doc_id,
             unnest(list_filter(
               regexp_split_to_array(lower(trim(coalesce(text,''))), '[^a-z0-9]+'),
               x -> length(x) > 0)) AS token
      FROM '{_FIXTURES / "quality_corpus_600.parquet"}'),
s AS (SELECT doc_id, sum(weight) AS sw FROM t JOIN w USING (token) GROUP BY doc_id),
lg AS (
  -- 6dp-rounded like the Spark scoring path, BEFORE binning/averaging:
  -- the 6th decimal must not flip a bin edge or an average between engines
  SELECT d.doc_id, d.label,
         round(CAST((SELECT bias FROM b) + coalesce(s.sw, 0) AS DOUBLE), 6)
           AS logit
  FROM '{_FIXTURES / "quality_corpus_600.parquet"}' d LEFT JOIN s USING (doc_id))
SELECT CAST(least(15, greatest(0, floor((logit - (-8.0)) / 1.0))) AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n,
       round(avg(logit), 6) AS mean_score,
       round(avg(CAST(label AS DOUBLE)), 6) AS frac_pos
FROM lg
GROUP BY 1
"""


def q_model_quality_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trainable quality model, scoring + reliability in one gate:
    per-doc DECIMAL-exact logits/keep flags, and the 16-bin logit-space
    calibration table the model's thresholds are read from."""
    a = q_model_quality(spark, sf_dir).withColumn("variant", F.lit("scores"))
    b = q_model_calibration(spark, sf_dir).withColumn(
        "variant", F.lit("calibration")
    )
    return a.unionByName(b, allowMissingColumns=True)


ORACLE_MODEL_QUALITY_SUITE = f"""
SELECT 'scores' AS variant, t.*, CAST(NULL AS BIGINT) AS bin,
       CAST(NULL AS BIGINT) AS n, CAST(NULL AS DOUBLE) AS mean_score,
       CAST(NULL AS DOUBLE) AS frac_pos FROM (
{ORACLE_MODEL_QUALITY}
) t
UNION ALL
SELECT 'calibration' AS variant, CAST(NULL AS BIGINT) AS doc_id,
       CAST(NULL AS DOUBLE) AS logit, CAST(NULL AS BOOLEAN) AS keep,
       t.* FROM (
{ORACLE_MODEL_CALIBRATION}
) t
"""


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokens + the BPE-ish subword estimate. Spark counts
    subwords by splitting on alnum/non-alnum boundary transitions
    (lookarounds); DuckDB's RE2 has no lookarounds, so the oracle counts
    the SAME quantity as (maximal alnum runs) + (non-alnum runs containing
    a non-space char) — an independent restatement of the tokenizer."""
    from validate_xml_rust_spark.operators.textstats import token_stats

    docs = _t(spark, sf_dir, "documents")
    return token_stats(docs).select(
        "doc_id", "n_tokens", "n_subwords", "text_chars"
    )


ORACLE_TOKEN_STATS = r"""
SELECT doc_id,
       CAST(len(list_filter(regexp_split_to_array(trim(coalesce(text,'')), '\s+'),
                x -> length(x) > 0)) AS INT) AS n_tokens,
       CAST(
         len(list_filter(regexp_split_to_array(lower(coalesce(text,'')), '[^a-z0-9]+'),
                         x -> length(x) > 0))
       + len(list_filter(regexp_split_to_array(lower(coalesce(text,'')), '[a-z0-9]+'),
                         x -> length(trim(x)) > 0)) AS INT) AS n_subwords,
       CAST(length(coalesce(text,'')) AS INT) AS text_chars
FROM documents
"""


def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from validate_xml_rust_spark.operators.textstats import quality_score

    docs = _t(spark, sf_dir, "documents")
    return quality_score(docs).select(
        "doc_id", "alpha_ratio", "punct_ratio", "stopword_ratio",
        "mean_word_len", "quality",
    )


ORACLE_QUALITY_SCORES = r"""
WITH f AS (
  SELECT doc_id,
         coalesce(text, '') AS t,
         greatest(length(coalesce(text,'')), 1) AS n,
         length(regexp_replace(coalesce(text,''), '[^A-Za-z]', '', 'g')) AS alpha,
         length(regexp_replace(coalesce(text,''), '[^.,!?;:]', '', 'g')) AS punct,
         greatest(len(list_filter(regexp_split_to_array(trim(coalesce(text,'')), '\s+'),
                  x -> length(x) > 0)), 1) AS n_words,
         ' ' || lower(coalesce(text,'')) || ' ' AS padded
  FROM documents),
g AS (
  SELECT doc_id, t, n, alpha, punct, n_words,
         ((length(padded) - length(replace(padded, ' the ', ''))) / 5.0
        + (length(padded) - length(replace(padded, ' and ', ''))) / 5.0
        + (length(padded) - length(replace(padded, ' of ', ''))) / 4.0) AS stop
  FROM f)
SELECT doc_id,
       round(CAST(alpha AS DOUBLE)/n, 6) AS alpha_ratio,
       round(CAST(punct AS DOUBLE)/n, 6) AS punct_ratio,
       round(stop/n_words, 6) AS stopword_ratio,
       round(CAST(length(t) AS DOUBLE)/n_words, 6) AS mean_word_len,
       round(least(greatest(
           CAST(alpha AS DOUBLE)/n * 0.5
         + least(stop/n_words * 2.0, 0.3)
         + (CASE WHEN CAST(length(t) AS DOUBLE)/n_words BETWEEN 3 AND 10 THEN 0.2 ELSE 0.0 END)
         - (CASE WHEN CAST(punct AS DOUBLE)/n > 0.1 THEN 0.2 ELSE 0.0 END),
         0.0), 1.0), 6) AS quality
FROM g
"""


ORACLE_LANGID = """
WITH s AS (
  SELECT doc_id, ' ' || lower(coalesce(text,'')) || ' ' AS p FROM documents),
sc AS (
  SELECT doc_id,
    (length(p)-length(replace(p,' the ','')))/5.0 + (length(p)-length(replace(p,' and ','')))/5.0 + (length(p)-length(replace(p,' of ','')))/4.0 AS s_en,
    (length(p)-length(replace(p,' der ','')))/5.0 + (length(p)-length(replace(p,' und ','')))/5.0 + (length(p)-length(replace(p,' die ','')))/5.0 AS s_de,
    (length(p)-length(replace(p,' le ','')))/4.0 + (length(p)-length(replace(p,' et ','')))/4.0 + (length(p)-length(replace(p,' les ','')))/5.0 AS s_fr,
    (length(p)-length(replace(p,' el ','')))/4.0 + (length(p)-length(replace(p,' y ','')))/3.0 + (length(p)-length(replace(p,' los ','')))/5.0 AS s_es
  FROM s)
SELECT doc_id,
  CASE WHEN greatest(s_en,s_de,s_fr,s_es) <= 0 THEN 'und'
       WHEN s_de = greatest(s_en,s_de,s_fr,s_es) THEN 'de'
       WHEN s_en = greatest(s_en,s_de,s_fr,s_es) THEN 'en'
       WHEN s_es = greatest(s_en,s_de,s_fr,s_es) THEN 'es'
       ELSE 'fr' END AS detected_lang
FROM sc
"""


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from validate_xml_rust_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    return brute_force_topk(emb, qv, k=10, exclude_id=0)


ORACLE_ANN_TOPK = """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
s AS (
  SELECT e.vec_id,
         list_sum(list_transform(list_zip(e.embedding, q.qv),
                  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) AS d,
         sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS na,
         sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nb
  FROM embeddings e, q WHERE e.vec_id <> 0)
SELECT vec_id, round(d/(na*nb), 6) AS cos_sim FROM s
ORDER BY cos_sim DESC, vec_id LIMIT 10
"""


def q_embedding_neardup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine pairs over a bounded id block (the exactness
    oracle for the LSH near-dup path)."""
    from validate_xml_rust_spark.operators.similarity import cosine

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 150)
    a, b = emb.alias("a"), emb.alias("b")
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.round(cosine(F.col("a.embedding"), F.col("b.embedding")), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.3)
    )


ORACLE_EMBEDDING_NEARDUP_EXACT = """
WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 150),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_sum(list_transform(list_zip(a.embedding, b.embedding),
                  x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) AS d,
         sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS na,
         sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nb
  FROM e a JOIN e b ON a.vec_id < b.vec_id)
SELECT id_a, id_b, round(d/(na*nb), 6) AS cos_sim
FROM p WHERE round(d/(na*nb), 6) >= 0.3
"""


def q_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k, checked against the EXACT brute-force top-k
    oracle (same SQL as ann_topk): equality asserts the nprobe=3/8 probe
    achieves exact recall@10 on this corpus — the meaningful quality bar
    for an IVF index, and deterministic here (hash-sampled training +
    farthest-point init, no RNG)."""
    from validate_xml_rust_spark.operators.similarity import ivf_topk, ivf_train

    emb = _t(spark, sf_dir, "embeddings")
    cents = ivf_train(emb, n_centroids=8, n_iters=3)
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    return ivf_topk(emb, cents, qv, k=10, nprobe=3, exclude_id=0)


# Shared DuckDB CTE: the string-shingle analog of functions/texthash.py's
# hash-domain shingles (tokenize → distinct word 3-grams; docs shorter than
# k words contribute their whole token string; empty docs → empty set,
# matching the Arrow shingle_hashes path). Jaccard over distinct string
# shingles equals Jaccard over their hashes (hash collisions at these set
# sizes are ~1e-10).
_ORACLE_SHINGLES = r"""
toks AS (
  SELECT doc_id, lang,
         list_filter(regexp_split_to_array(lower(trim(coalesce(text,''))), '[^a-z0-9]+'),
                     x -> length(x) > 0) AS w
  FROM documents),
sh AS (
  SELECT doc_id, lang,
         CASE WHEN len(w) = 0 THEN []
              WHEN len(w) >= 3 THEN
                list_distinct(list_transform(range(1, len(w) - 1),
                              i -> array_to_string(w[i:i+2], ' ')))
              ELSE [array_to_string(w, ' ')] END AS s
  FROM toks)
"""


def _oracle_jaccard_pairs(where: str, threshold: float) -> str:
    return f"""
WITH {_ORACLE_SHINGLES},
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
               / greatest(len(list_distinct(list_concat(a.s, b.s))), 1), 6) AS jaccard
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id {where})
SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= {threshold}
"""


def q_minhash_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dups, verified with exact Jaccard (the operator's
    verification step). The oracle is the full O(n²) brute-force Jaccard in
    DuckDB: equality asserts LSH recall is exactly 1.0 on this corpus —
    achievable because its true near-dup pairs sit at J ≥ 0.9, far above
    the 0.5 threshold, where the 8-band/4-row collision probability is
    ~1-2e-4 per pair and the seeded hashes make the outcome deterministic."""
    from validate_xml_rust_spark.operators.dedup import minhash_near_duplicates

    return minhash_near_duplicates(_t(spark, sf_dir, "documents"), threshold=0.5)


ORACLE_MINHASH_NEARDUPS = _oracle_jaccard_pairs("", 0.5)


# streaming_neardup's replayed corpus size — bench.py reads this for its
# docs/sec rate, so the two stay in sync by construction
STREAM_NEARDUP_DOCS = 600


def q_streaming_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-BATCH streaming near-dedup == batch brute force: the planted
    corpus replays as 6 micro-batches (consecutive ids land in different
    files, so every planted pair straddles batches), flows through the
    stateful band-bucket matcher (streaming/stateful.py,
    applyInPandasWithState), and the surviving candidates are verified
    with the batch pipeline's exact-Jaccard step. The oracle is the full
    O(n²) string-shingle Jaccard join over the committed snapshot of the
    same rows — equality proves the keyed-state logic (state append,
    cross-batch matching, signature agreement) loses no pair and invents
    none. 16 bands × 2 rows: per-pair miss probability ≈ 3e-12 at J=0.9,
    deterministic under the seeded hash family."""
    import tempfile

    from validate_xml_rust_spark.functions.texthash import jaccard, shingle_hashes
    from validate_xml_rust_spark.sources.corpus import synthetic_documents
    from validate_xml_rust_spark.streaming.stateful import (
        run_available_now,
        streaming_near_dedup,
    )

    docs = synthetic_documents(spark, STREAM_NEARDUP_DOCS, n_partitions=8)
    td = tempfile.mkdtemp(prefix="vxrs_stream_neardup_")
    in_dir, out_dir, ckpt = f"{td}/in", f"{td}/out", f"{td}/ckpt"
    for b in range(6):
        docs.filter(F.col("doc_id") % 6 == b).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
    sdf = streaming_near_dedup(
        spark, in_dir, num_perm=32, bands=16, threshold=0.5,
        max_files_per_trigger=1,
    )
    run_available_now(sdf, ckpt, out_dir)
    cand = (
        spark.read.parquet(out_dir)
        .select(
            F.least("id_new", "id_seen").alias("id_a"),
            F.greatest("id_new", "id_seen").alias("id_b"),
        )
        .distinct()
    )
    sh = docs.select("doc_id", shingle_hashes(F.col("text"), 3).alias("s"))
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("s").alias("sa"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("s").alias("sb"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard", F.round(jaccard(F.col("sa"), F.col("sb")), 6))
        .filter(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b", "jaccard")
    )


ORACLE_STREAMING_NEARDUP = rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(coalesce(text,''))), '[^a-z0-9]+'),
                     x -> length(x) > 0) AS w
  FROM '{_FIXTURES / "synthetic_docs_600.parquet"}'),
sh AS (
  SELECT doc_id,
         CASE WHEN len(w) = 0 THEN []
              WHEN len(w) >= 3 THEN
                list_distinct(list_transform(range(1, len(w) - 1),
                              i -> array_to_string(w[i:i+2], ' ')))
              ELSE [array_to_string(w, ' ')] END AS s
  FROM toks),
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
               / greatest(len(list_distinct(list_concat(a.s, b.s))), 1), 6) AS jaccard
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= 0.5
"""


def q_streaming_first_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-batch FIRST-SEEN dedup (streaming/stateful.py,
    applyInPandasWithState): the documents table replays as 5 arrival
    files (batch j = doc_id // K with K = ceil(n/5), one file per
    micro-batch, file order pinned by explicit mtimes), keyed on
    doc_id % K — every key arrives exactly once per batch, so each
    occurrence's ``n_seen_before`` is fully determined: doc_id // K. The
    oracle restates that closed form (K from the same count); equality
    pins the keyed-state counter across batches.

    The batch COUNT is fixed at 5 regardless of sf — scaling the corpus
    grows rows-per-trigger (real state-store work), not trigger count
    (fixed per-micro-batch commit overhead): 50 triggers at sf0.1 was
    ~55s of pure checkpoint churn for the same state-logic coverage."""
    import os
    import tempfile
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from validate_xml_rust_spark.streaming.stateful import (
        run_available_now,
        streaming_first_seen_dedup,
    )

    base = _t(spark, sf_dir, "documents")
    kk = (base.count() + 4) // 5  # keys per batch → always 5 batches
    docs = base.select(
        F.col("doc_id").cast("string").alias("url"),
        (F.col("doc_id") % kk).cast("string").alias("key"),
        F.floor(F.col("doc_id") / kk).cast("int").alias("batch"),
    )
    rows = docs.collect()  # tiny (url,key) rows — replay fixture setup only
    td = tempfile.mkdtemp(prefix="vxrs_first_seen_")
    in_dir, out_dir, ckpt = f"{td}/in", f"{td}/out", f"{td}/ckpt"
    os.makedirs(in_dir)
    t0 = _time.time() - 1000
    for j in sorted({r["batch"] for r in rows}):
        part = [r for r in rows if r["batch"] == j]
        path = f"{in_dir}/batch{j}.parquet"
        pq.write_table(
            pa.table(
                {
                    "url": pa.array([r["url"] for r in part]),
                    "key": pa.array([r["key"] for r in part]),
                }
            ),
            path,
        )
        os.utime(path, (t0 + j, t0 + j))  # arrival order = mtime order
    schema = T.StructType(
        [T.StructField("url", T.StringType()), T.StructField("key", T.StringType())]
    )
    sdf = streaming_first_seen_dedup(
        spark, in_dir, ckpt, key_expr="key", schema=schema,
        max_files_per_trigger=1,
    )
    run_available_now(sdf, ckpt, out_dir)
    return spark.read.parquet(out_dir).select(
        "key", "url", "is_duplicate", "n_seen_before"
    )


ORACLE_STREAMING_FIRST_SEEN = """
WITH kk AS (SELECT CAST(ceil(count(*) / 5.0) AS BIGINT) AS k FROM documents)
SELECT CAST(doc_id % k AS VARCHAR) AS key,
       CAST(doc_id AS VARCHAR) AS url,
       doc_id >= k AS is_duplicate,
       CAST(doc_id // k AS BIGINT) AS n_seen_before
FROM documents, kk
"""


def q_simhash_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dups over the planted synthetic corpus (sf-independent;
    SimHash itself is not restatable in ANSI SQL, so the oracle reads a
    committed fixture of per-doc SimHash values computed by the INDEPENDENT
    pure-expression path — ``simhash64_expr`` — and does the brute-force
    O(n²) Hamming join in DuckDB SQL; see tools/make_fixtures.py).

    ``max_hamming=3 < 64/chunk_bits = 4`` makes the chunk-banded candidate
    join EXACT by pigeonhole (any two hashes within Hamming 3 share at
    least one 16-bit chunk), so Spark's banded output must equal the
    brute-force fixture join bit-for-bit."""
    from validate_xml_rust_spark.operators.dedup import simhash_near_duplicates
    from validate_xml_rust_spark.sources.corpus import synthetic_documents

    docs = synthetic_documents(spark, 600, n_partitions=8)
    return simhash_near_duplicates(docs, max_hamming=3)


ORACLE_SIMHASH_NEARDUPS = f"""
WITH h AS (SELECT * FROM '{_FIXTURES / "simhash_docs_600.parquet"}')
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM h a JOIN h b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard pairs blocked by lang over a bounded id block.
    The oracle restates shingle-set Jaccard in DuckDB over string 3-grams
    (list_transform over regexp_split_to_array) — Jaccard over string
    shingles equals Jaccard over the engine's hash-domain shingles. This
    query is deliberately O(block²), so the block is capped (the LSH
    operators are the scale path)."""
    from validate_xml_rust_spark.operators.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    return ngram_jaccard_pairs(docs, threshold=0.5, group_col="lang")


ORACLE_NGRAM_JACCARD = _oracle_jaccard_pairs(
    "AND a.lang = b.lang AND a.doc_id < 500 AND b.doc_id < 500", 0.5
)


# ---------------------------------------------------------------------------
# Relational-coverage queries beyond the reference (windows, sessionization,
# rollup, set ops) — engine capabilities a training-pipeline user expects.
# ---------------------------------------------------------------------------


# Planted-vector INPUT fixture (tools/make_fixtures.py): 30 anchor
# clusters at cosine ~0.97 over random background (max background cosine
# ~0.55) — the sf embeddings carry no high-cosine pairs, so the LSH
# recall gates need planted similarity structure. Both engines read the
# SAME rows; the oracle is an exhaustive brute-force restatement.
_PLANTED_VECS = str(_FIXTURES / "planted_vectors.parquet")


def q_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded sign-LSH near-dup (the SCALE path, vs embedding_neardup_exact
    the brute-force oracle path): 16 bands x 4 bits over the planted
    vectors — equality with the full O(n²) cosine scan asserts recall is
    exactly 1.0 at the 0.9 threshold (per-pair miss probability ~4e-6 at
    cos 0.9, deterministic under the seeded planes)."""
    from validate_xml_rust_spark.operators.similarity import (
        embedding_near_duplicates,
    )

    emb = spark.read.parquet(_PLANTED_VECS)
    return embedding_near_duplicates(
        emb, threshold=0.9, bits_per_band=4, bands=16
    )


ORACLE_EMBEDDING_NEARDUP_LSH = f"""
WITH e AS (SELECT vec_id, embedding FROM '{_PLANTED_VECS}'),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_sum(list_transform(list_zip(a.embedding, b.embedding),
                  x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
            * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6) AS cos_sim
  FROM e a JOIN e b ON a.vec_id < b.vec_id)
SELECT id_a, id_b, cos_sim FROM p WHERE cos_sim >= 0.9
"""


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup (similarity.semantic_dedup — Abbas et al.
    2023) over the planted vectors: deterministic k-means (the ivf
    trainer: hash-sampled, farthest-point init, no RNG) then
    within-cluster min-id-keeper pruning at cosine ≥ 0.9. The oracle
    re-derives the drop set GLOBALLY — every vector with ANY lower-id
    0.9-cosine partner anywhere in the corpus, witness = the smallest
    such id — so gate equality proves (a) the k=12 clustering separates
    no 0.9-pair on this corpus (recall 1.0, the same bar the lsh variant
    meets) and (b) the blocked numpy matmul prune agrees with the SQL
    cosine at 6dp, witness choice included."""
    from validate_xml_rust_spark.operators.similarity import semantic_dedup

    emb = spark.read.parquet(_PLANTED_VECS)
    return semantic_dedup(
        emb, threshold=0.9, n_centroids=12, n_iters=3, drops_only=True
    )


ORACLE_SEMANTIC_DEDUP = f"""
WITH e AS (SELECT vec_id, embedding FROM '{_PLANTED_VECS}'),
p AS (
  SELECT a.vec_id AS wit, b.vec_id AS id,
         round(list_sum(list_transform(list_zip(a.embedding, b.embedding),
                  x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
            * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6) AS cs
  FROM e a JOIN e b ON a.vec_id < b.vec_id),
d AS (SELECT id, min(wit) AS witness_id FROM p WHERE cs >= 0.9 GROUP BY id)
SELECT CAST(d.id AS BIGINT) AS vec_id, CAST(d.witness_id AS BIGINT) AS witness_id,
       p.cs AS cos_sim
FROM d JOIN p ON p.id = d.id AND p.wit = d.witness_id
"""


def q_ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k (ann_topk — candidates restricted to
    signatures within probe_hamming of the query's bucket, then exact
    rescoring) vs the exhaustive top-k oracle: equality asserts exact
    recall@3 inside the query's planted cluster."""
    from validate_xml_rust_spark.operators.similarity import ann_topk

    emb = spark.read.parquet(_PLANTED_VECS)
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    return ann_topk(emb, qv, k=3, n_planes=12, probe_hamming=2, exclude_id=0)


ORACLE_ANN_TOPK_LSH = f"""
WITH q AS (SELECT embedding AS qv FROM '{_PLANTED_VECS}' WHERE vec_id = 0),
s AS (
  SELECT e.vec_id,
         list_sum(list_transform(list_zip(e.embedding, q.qv),
                  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) AS d,
         sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS na,
         sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nb
  FROM '{_PLANTED_VECS}' e, q WHERE e.vec_id <> 0)
SELECT vec_id, round(d/(na*nb), 6) AS cos_sim FROM s
ORDER BY cos_sim DESC, vec_id LIMIT 3
"""


def q_top_orders_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by price per nation — window ranking (W1 optional in
    SURVEY.md §2.5, realized as row_number over a partitioned window)."""
    from pyspark.sql import Window as W

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    j = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    )
    w = W.partitionBy("n_name").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        j.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            # o_totalprice is a parquet double — pass it through untouched
            # on both sides (a decimal cast here only re-introduced the
            # Decimal-object canonicalization mismatch)
            "n_name", "rk", "o_orderkey",
            F.col("o_totalprice").alias("price"),
        )
    )


ORACLE_TOP_ORDERS_PER_NATION = """
WITH j AS (
  SELECT n_name, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY n_name
                            ORDER BY o_totalprice DESC, o_orderkey) AS rk
  FROM orders JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey)
SELECT n_name, CAST(rk AS INT) AS rk, o_orderkey,
       o_totalprice AS price
FROM j WHERE rk <= 3
"""


def q_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionize events per user with a 30-minute inactivity gap: lag +
    gap-flag cumsum (the batch sessionization pattern) → per-session
    aggregates."""
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ in the parquet — epoch seconds via ltz cast
    # (session TZ pinned to UTC, so this is deterministic)
    epoch = F.col("ts").cast("timestamp").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    flagged = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 1800), 1).otherwise(0),
    )
    sess = flagged.withColumn(
        "session_no",
        F.sum("new_session").over(
            W.partitionBy("user_id").orderBy("ts", "event_id")
            .rowsBetween(W.unboundedPreceding, 0)
        ),
    )
    return (
        sess.groupBy("user_id", "session_no")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )


ORACLE_SESSIONIZATION = """
WITH l AS (
  SELECT user_id, event_id, ts,
         CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
                   OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events),
s AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_no
  FROM l)
SELECT user_id, CAST(session_no AS BIGINT) AS session_no, count(*) AS n_events,
       min(ts) AS session_start, max(ts) AS session_end
FROM s GROUP BY user_id, session_no
"""
# ^ DuckDB's windowed sum(int) yields HUGEINT (int128), which the driver's
# hash canonicalizes differently from Spark's LONG — pin it to BIGINT.


def q_rollup_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP drill-down: counts by (orderstatus, orderpriority) with
    subtotals and grand total (grouping-set coverage)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
            "n",
        )
    )


ORACLE_ROLLUP_ORDER_PRIORITY = """
SELECT coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       count(*) AS n
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


def q_active_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-op coverage: customers with orders (semi) vs without (anti),
    unioned with a tag — E1 in SURVEY.md §2.5."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = _t(spark, sf_dir, "orders").select("o_custkey")
    active = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
    inactive = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
    return active.withColumn("segment", F.lit("active")).unionByName(
        inactive.withColumn("segment", F.lit("inactive"))
    )


ORACLE_ACTIVE_INACTIVE_CUSTOMERS = """
SELECT c_custkey, 'active' AS segment FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders)
UNION ALL
SELECT c_custkey, 'inactive' FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL)
"""
# ^ NOT-IN null guard: matches the left_anti join's treatment of NULL keys.


def q_asof_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (Spark-lacking operator, realized as union + ordered
    window with last-ignorenulls — no UDF, one shuffle): for each click,
    the user's most recent purchase at or before the click."""
    from validate_xml_rust_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    buys = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))  # deterministic tie-break
    )
    j = asof_join(
        clicks, buys, on="user_id", left_ts="ts", right_ts="ts",
        right_payload=["value"],
    )
    return j.select(
        "event_id", "user_id",
        F.col("asof_ts").cast("timestamp").alias("asof_ts"),
        F.round("asof_value", 4).alias("asof_value"),
    )


ORACLE_ASOF_CLICK_PURCHASE = """
WITH clicks AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
     buys AS (SELECT user_id, ts, max(value) AS value FROM events
              WHERE event_type = 'purchase' GROUP BY user_id, ts)
SELECT c.event_id, c.user_id, CAST(b.ts AS TIMESTAMP) AS asof_ts,
       round(b.value, 4) AS asof_value
FROM clicks c ASOF LEFT JOIN buys b
  ON c.user_id = b.user_id AND c.ts >= b.ts
"""


def q_range_join_clicks_before_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketized range join (the other join family Spark lacks): for each
    error event, clicks by the same user in the preceding hour. Two
    equi-join probes on (user, time-bucket) instead of a nested-loop
    inequality join."""
    from validate_xml_rust_spark.operators.rangejoin import range_join_count

    ev = _t(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    return range_join_count(
        errors, clicks, on="user_id", left_ts="ts", right_ts="ts",
        window_seconds=3600, count_alias="clicks_prev_hour",
    )


ORACLE_RANGE_JOIN_CLICKS_BEFORE_ERROR = """
WITH errors AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
     clicks AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
SELECT e.event_id, e.user_id, e.ts,
       (SELECT count(*) FROM clicks c
        WHERE c.user_id = e.user_id
          AND epoch(c.ts) >= epoch(e.ts) - 3600
          AND epoch(c.ts) < epoch(e.ts)) AS clicks_prev_hour
FROM errors e
"""


def q_event_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar-function coverage: extract props.k, aggregate per type."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count(k).alias("n_with_k"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


ORACLE_EVENT_PROPS_JSON = """
SELECT event_type,
       count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events GROUP BY event_type
"""


def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles per group (profiler extension A9): median and p90
    of lineitem quantity by returnflag. Spark ``percentile`` (exact) vs
    DuckDB ``quantile_cont`` — both exact interpolating quantiles."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 6).alias("p50_qty"),
        F.round(F.expr("percentile(l_quantity, 0.9)"), 6).alias("p90_qty"),
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("p50_price"),
    )


ORACLE_VALUE_PERCENTILES = """
SELECT l_returnflag,
       round(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
       round(quantile_cont(l_quantity, 0.9), 6) AS p90_qty,
       round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_price
FROM lineitem GROUP BY l_returnflag
"""


def q_cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (orderstatus, orderpriority): all grouping-set combos."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # exact decimal accumulation, double at the output boundary
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").alias("total"),
        )
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
            "n",
            "total",
        )
    )


ORACLE_CUBE_ORDER_STATS = """
SELECT coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       count(*) AS n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def q_pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts, one column per order status."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            F.coalesce("F", F.lit(0)).alias("n_f"),
            F.coalesce("O", F.lit(0)).alias("n_o"),
            F.coalesce("P", F.lit(0)).alias("n_p"),
        )
    )


ORACLE_PIVOT_STATUS_BY_PRIORITY = """
SELECT o_orderpriority,
       count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
       count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
       count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
FROM orders GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Driver-gate coverage for previously pytest-only operators (VERDICT.md r1
# item 3): drift chi², salted aggregation, resume anti-join, scan filters,
# byte-identical extraction — each restated independently in DuckDB SQL.
# ---------------------------------------------------------------------------


def q_profile_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot profile comparison (operators/profile.py
    `profile_diff`): yesterday's snapshot = the full documents table,
    today's = the doc_id-even half; numeric metrics unpivot, full-outer
    join, relative-change flagging. The oracle rebuilds BOTH profiles and
    the comparison arithmetic in SQL."""
    from validate_xml_rust_spark.operators.profile import profile, profile_diff

    docs = _t(spark, sf_dir, "documents")
    cols = ["lang", "source", "n_chars"]
    old = profile(docs, cols, exact=True)
    new = profile(docs.filter(F.col("doc_id") % 2 == 0), cols, exact=True)
    # flagged cast to BIGINT: the driver value hash canonicalizes native
    # boolean objects differently across engines (CLAUDE.md gate rule:
    # end in double/bigint/string/timestamp on BOTH sides)
    return profile_diff(old, new, rel_threshold=0.1).select(
        "column_name", "metric", "old_value", "new_value", "rel_change",
        F.col("flagged").cast("long").alias("flagged"),
    )


ORACLE_PROFILE_DIFF = """
WITH oldp AS (
  SELECT 'lang' AS column_name, 'null_rate' AS metric,
         CAST(count(*) FILTER (WHERE lang IS NULL) AS DOUBLE)/count(*) AS v FROM documents
  UNION ALL SELECT 'lang', 'n_distinct', CAST(count(DISTINCT lang) AS DOUBLE) FROM documents
  UNION ALL SELECT 'source', 'null_rate',
         CAST(count(*) FILTER (WHERE source IS NULL) AS DOUBLE)/count(*) FROM documents
  UNION ALL SELECT 'source', 'n_distinct', CAST(count(DISTINCT source) AS DOUBLE) FROM documents
  UNION ALL SELECT 'n_chars', 'null_rate',
         CAST(count(*) FILTER (WHERE n_chars IS NULL) AS DOUBLE)/count(*) FROM documents
  UNION ALL SELECT 'n_chars', 'n_distinct', CAST(count(DISTINCT n_chars) AS DOUBLE) FROM documents),
newp AS (
  SELECT 'lang' AS column_name, 'null_rate' AS metric,
         CAST(count(*) FILTER (WHERE lang IS NULL) AS DOUBLE)/count(*) AS v
  FROM documents WHERE doc_id % 2 = 0
  UNION ALL SELECT 'lang', 'n_distinct', CAST(count(DISTINCT lang) AS DOUBLE)
  FROM documents WHERE doc_id % 2 = 0
  UNION ALL SELECT 'source', 'null_rate',
         CAST(count(*) FILTER (WHERE source IS NULL) AS DOUBLE)/count(*)
  FROM documents WHERE doc_id % 2 = 0
  UNION ALL SELECT 'source', 'n_distinct', CAST(count(DISTINCT source) AS DOUBLE)
  FROM documents WHERE doc_id % 2 = 0
  UNION ALL SELECT 'n_chars', 'null_rate',
         CAST(count(*) FILTER (WHERE n_chars IS NULL) AS DOUBLE)/count(*)
  FROM documents WHERE doc_id % 2 = 0
  UNION ALL SELECT 'n_chars', 'n_distinct', CAST(count(DISTINCT n_chars) AS DOUBLE)
  FROM documents WHERE doc_id % 2 = 0),
j AS (
  SELECT coalesce(o.column_name, n.column_name) AS column_name,
         coalesce(o.metric, n.metric) AS metric,
         o.v AS old_value, n.v AS new_value
  FROM oldp o FULL OUTER JOIN newp n
    ON o.column_name = n.column_name AND o.metric = n.metric)
SELECT column_name, metric, old_value, new_value,
       CASE WHEN old_value IS NULL OR new_value IS NULL THEN NULL
            ELSE round(abs(new_value - old_value)/greatest(abs(old_value), 1e-9), 6)
       END AS rel_change,
       CAST((old_value IS NULL OR new_value IS NULL
        OR abs(new_value - old_value)/greatest(abs(old_value), 1e-9) > 0.1) AS BIGINT) AS flagged
FROM j
"""


def q_datasheet_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-over-snapshot datasheet comparison
    (profile.datasheet_diff): yesterday's composition = the full
    documents table, today's = the doc_id-even half; full-outer on
    (section, key, metric) with the profile_diff arithmetic. The oracle
    re-derives BOTH datasheets (the parametrized grouping-sets
    restatement) and the comparison from scratch."""
    from validate_xml_rust_spark.operators.profile import (
        corpus_datasheet,
        datasheet_diff,
    )

    docs = _t(spark, sf_dir, "documents")
    old = corpus_datasheet(docs, probabilities=_DS_PCTS)
    new = corpus_datasheet(
        docs.filter(F.col("doc_id") % 2 == 0), probabilities=_DS_PCTS
    )
    return datasheet_diff(old, new, rel_threshold=0.1).select(
        "section", "key", "metric", "old_value", "new_value", "rel_change",
        F.col("flagged").cast("long").alias("flagged"),
    )


ORACLE_DATASHEET_DIFF = f"""
WITH oldd AS ({_oracle_datasheet("")}),
newd AS ({_oracle_datasheet("WHERE doc_id % 2 = 0")}),
j AS (
  SELECT coalesce(o.section, n.section) AS section,
         coalesce(o.key, n.key) AS key,
         coalesce(o.metric, n.metric) AS metric,
         o.value AS old_value, n.value AS new_value
  FROM oldd o FULL OUTER JOIN newd n
    ON o.section = n.section AND o.key = n.key AND o.metric = n.metric)
SELECT section, key, metric, old_value, new_value,
       CASE WHEN old_value IS NULL OR new_value IS NULL THEN NULL
            ELSE round(abs(new_value - old_value)/greatest(abs(old_value), 1e-9), 6)
       END AS rel_change,
       CAST((old_value IS NULL OR new_value IS NULL
        OR abs(new_value - old_value)/greatest(abs(old_value), 1e-9) > 0.1) AS BIGINT) AS flagged
FROM j
"""


def q_profile_diff_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both snapshot-diff grains, one gate: per-column profile metrics
    and the (section, key, metric) composition datasheet."""
    a = q_profile_diff(spark, sf_dir).withColumn("variant", F.lit("profile"))
    b = q_datasheet_diff(spark, sf_dir).withColumn(
        "variant", F.lit("datasheet")
    )
    return a.unionByName(b, allowMissingColumns=True)


ORACLE_PROFILE_DIFF_SUITE = f"""
SELECT 'profile' AS variant, t.*, CAST(NULL AS VARCHAR) AS section,
       CAST(NULL AS VARCHAR) AS key FROM (
{ORACLE_PROFILE_DIFF}
) t
UNION ALL
SELECT 'datasheet' AS variant, CAST(NULL AS VARCHAR) AS column_name,
       t.metric, t.old_value, t.new_value, t.rel_change, t.flagged,
       t.section, t.key FROM (
{ORACLE_DATASHEET_DIFF}
) t
"""


def q_fd_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency profiling (operators/profile.py
    `fd_violations`): report every source mapping to more than one lang —
    the Deequ-style X → Y check with NULL counted as a real dependent
    binding. The oracle recomputes the tagged distinct counting, the
    sorted example slice, and the NULL sentinel handling in SQL."""
    from validate_xml_rust_spark.operators.profile import fd_violations

    docs = _t(spark, sf_dir, "documents")
    out = fd_violations(docs, "source", "lang", max_examples=3)
    return out.select(
        "source",
        F.col("n_dependent_values").cast("long").alias("n_dependent_values"),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.concat_ws(",", "example_values").alias("example_values"),
    )


ORACLE_FD_VIOLATIONS = """
WITH keyed AS (
  SELECT source,
         CASE WHEN lang IS NULL THEN chr(0) ELSE 'v' || lang END AS yt
  FROM documents WHERE source IS NOT NULL),
g AS (
  SELECT source, count(DISTINCT yt) AS ndv, count(*) AS n_rows,
         list_sort(list(DISTINCT yt)) AS ex
  FROM keyed GROUP BY source)
SELECT source, CAST(ndv AS BIGINT) AS n_dependent_values,
       CAST(n_rows AS BIGINT) AS n_rows,
       array_to_string(list_transform(ex[1:3],
         t -> CASE WHEN t = chr(0) THEN '<null>' ELSE t[2:] END), ',') AS example_values
FROM g WHERE ndv > 1
"""


def q_drift_chi2_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition chi² drift of the lang distribution vs the global
    baseline (operators/drift.py): partition-level category counts are one
    JVM aggregation; only count rows reach the grouped-map Python. The
    oracle recomputes the statistic from scratch in SQL ((o-e)²/e over the
    partition×category grid). The Wilson–Hilferty p-value needs erfc
    (not in ANSI SQL), so the gate projects the statistic — the part worth
    cross-engine verification."""
    from validate_xml_rust_spark.operators.drift import (
        categorical_baseline,
        chi2_drift_check,
    )

    docs = _t(spark, sf_dir, "documents").withColumn(
        "partition_id", (F.col("doc_id") % 8).cast("int")
    )
    baseline = categorical_baseline(docs, "lang")
    out = chi2_drift_check(docs, "lang", baseline)
    return out.select("partition_id", "column_name", "test", "statistic", "n")


ORACLE_DRIFT_CHI2_LANG = """
WITH obs AS (
  SELECT CAST(doc_id % 8 AS INT) AS partition_id, lang, count(*) AS o
  FROM documents WHERE lang IS NOT NULL GROUP BY 1, 2),
base AS (
  SELECT lang, CAST(count(*) AS DOUBLE) AS b FROM documents
  WHERE lang IS NOT NULL GROUP BY 1),
tot AS (SELECT sum(b) AS bt FROM base),
pn AS (SELECT partition_id, CAST(sum(o) AS DOUBLE) AS n FROM obs GROUP BY 1),
grid AS (
  SELECT pn.partition_id, pn.n, base.b / tot.bt * pn.n AS e,
         CAST(coalesce(obs.o, 0) AS DOUBLE) AS o
  FROM pn CROSS JOIN base CROSS JOIN tot
  LEFT JOIN obs ON obs.partition_id = pn.partition_id AND obs.lang = base.lang)
SELECT CAST(partition_id AS INT) AS partition_id,
       'lang' AS column_name, 'chi2' AS test,
       round(CASE WHEN max(n) < 20 THEN 0.0
                  ELSE sum((o - e) * (o - e) / e) END, 6) AS statistic,
       CAST(max(n) AS BIGINT) AS n
FROM grid GROUP BY partition_id
"""


def q_drift_ks_nchars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition two-sample KS drift of n_chars vs the full-table
    baseline (operators/drift.py). The oracle recomputes the KS statistic
    from first principles in SQL: for every candidate value, both
    empirical CDFs by counting, then the max absolute gap. (The asymptotic
    p-value needs exp-series math; the statistic is the cross-engine
    check.)"""
    from validate_xml_rust_spark.operators.drift import (
        ks_drift_check,
        numeric_baseline,
    )

    docs = _t(spark, sf_dir, "documents").withColumn(
        "partition_id", (F.col("doc_id") % 8).cast("int")
    )
    base = numeric_baseline(docs, "n_chars")  # < sample cap → all values
    out = ks_drift_check(docs, "n_chars", base)
    return out.select("partition_id", "column_name", "test", "statistic", "n")


ORACLE_DRIFT_KS_NCHARS = """
WITH vals AS (
  SELECT CAST(doc_id % 8 AS INT) AS pid, CAST(n_chars AS DOUBLE) AS v
  FROM documents WHERE n_chars IS NOT NULL),
base AS (SELECT CAST(n_chars AS DOUBLE) AS v FROM documents WHERE n_chars IS NOT NULL),
nb AS (SELECT CAST(count(*) AS DOUBLE) AS m FROM base),
np AS (SELECT pid, CAST(count(*) AS DOUBLE) AS n FROM vals GROUP BY pid),
cand AS (
  SELECT p.pid, b.v FROM (SELECT DISTINCT pid FROM vals) p CROSS JOIN (SELECT DISTINCT v FROM base) b
  UNION SELECT DISTINCT pid, v FROM vals),
gaps AS (
  SELECT c.pid,
         abs( (SELECT count(*) FROM vals s WHERE s.pid = c.pid AND s.v <= c.v) / np.n
            - (SELECT count(*) FROM base b WHERE b.v <= c.v) / (SELECT m FROM nb) ) AS gap
  FROM cand c JOIN np ON np.pid = c.pid)
SELECT CAST(pid AS INT) AS partition_id, 'n_chars' AS column_name, 'ks' AS test,
       round(max(gap), 6) AS statistic,
       (SELECT CAST(n AS BIGINT) FROM np WHERE np.pid = gaps.pid) AS n
FROM gaps GROUP BY pid
"""


def q_drift_psi_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition Population Stability Index of the lang distribution vs
    the global baseline (operators/drift.py `psi_drift_check`) — the
    zero-Python drift check: one count aggregation, then codegen'd
    closed-form PSI terms over a literal category grid. The oracle
    recomputes the Laplace-smoothed PSI from scratch in SQL, so unlike the
    chi²/KS gates the ENTIRE statistic (smoothing, OTHER bucket, log
    terms) is cross-engine verified."""
    from validate_xml_rust_spark.operators.drift import (
        categorical_baseline,
        psi_drift_check,
    )

    docs = _t(spark, sf_dir, "documents").withColumn(
        "partition_id", (F.col("doc_id") % 8).cast("int")
    )
    baseline = categorical_baseline(docs, "lang")
    out = psi_drift_check(docs, "lang", baseline)
    return out.select("partition_id", "column_name", "test", "statistic", "n")


ORACLE_DRIFT_PSI_LANG = """
WITH base AS (
  SELECT lang AS cat, CAST(count(*) AS DOUBLE) AS b
  FROM documents WHERE lang IS NOT NULL GROUP BY 1),
cats AS (SELECT cat FROM base UNION ALL SELECT '__OTHER__'),
kk AS (SELECT CAST(count(*) AS DOUBLE) AS k FROM cats),
mm AS (SELECT sum(b) AS m FROM base),
obs AS (
  SELECT CAST(doc_id % 8 AS INT) AS pid, lang AS cat, count(*) AS o
  FROM documents WHERE lang IS NOT NULL GROUP BY 1, 2),
pn AS (SELECT pid, CAST(sum(o) AS DOUBLE) AS n FROM obs GROUP BY 1),
grid AS (
  SELECT pn.pid, pn.n,
         CAST(coalesce(obs.o, 0) AS DOUBLE) AS o,
         coalesce(base.b, 0.0) AS b
  FROM pn CROSS JOIN cats
  LEFT JOIN obs ON obs.pid = pn.pid AND obs.cat = cats.cat
  LEFT JOIN base ON base.cat = cats.cat),
terms AS (
  SELECT pid, n,
         ((o + 0.5) / (n + 0.5 * k) - (b + 0.5) / (m + 0.5 * k))
           * ln(((o + 0.5) / (n + 0.5 * k)) / ((b + 0.5) / (m + 0.5 * k))) AS t
  FROM grid CROSS JOIN kk CROSS JOIN mm)
SELECT CAST(pid AS INT) AS partition_id, 'lang' AS column_name, 'psi' AS test,
       CASE WHEN max(n) < 20 THEN 0.0 ELSE round(sum(t), 6) END AS statistic,
       CAST(max(n) AS BIGINT) AS n
FROM terms GROUP BY pid
"""


def q_drift_js_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition Jensen–Shannon divergence of the lang distribution
    vs the global baseline (psi_drift_check(stat='js') — same grid,
    same smoothing, same zero-Python plan as PSI; JSD is bounded in
    [0, ln 2] and symmetric, the complementary divergence statistic).
    The oracle re-derives the half-KL terms from scratch."""
    from validate_xml_rust_spark.operators.drift import (
        categorical_baseline,
        psi_drift_check,
    )

    docs = _t(spark, sf_dir, "documents").withColumn(
        "partition_id", (F.col("doc_id") % 8).cast("int")
    )
    baseline = categorical_baseline(docs, "lang")
    out = psi_drift_check(docs, "lang", baseline, stat="js", threshold=0.1)
    return out.select("partition_id", "column_name", "test", "statistic", "n")


ORACLE_DRIFT_JS_LANG = """
WITH base AS (
  SELECT lang AS cat, CAST(count(*) AS DOUBLE) AS b
  FROM documents WHERE lang IS NOT NULL GROUP BY 1),
cats AS (SELECT cat FROM base UNION ALL SELECT '__OTHER__'),
kk AS (SELECT CAST(count(*) AS DOUBLE) AS k FROM cats),
mm AS (SELECT sum(b) AS m FROM base),
obs AS (
  SELECT CAST(doc_id % 8 AS INT) AS pid, lang AS cat, count(*) AS o
  FROM documents WHERE lang IS NOT NULL GROUP BY 1, 2),
pn AS (SELECT pid, CAST(sum(o) AS DOUBLE) AS n FROM obs GROUP BY 1),
grid AS (
  SELECT pn.pid, pn.n,
         CAST(coalesce(obs.o, 0) AS DOUBLE) AS o,
         coalesce(base.b, 0.0) AS b
  FROM pn CROSS JOIN cats
  LEFT JOIN obs ON obs.pid = pn.pid AND obs.cat = cats.cat
  LEFT JOIN base ON base.cat = cats.cat),
terms AS (
  SELECT pid, n,
         ((o + 0.5) / (n + 0.5 * k) * ln(((o + 0.5) / (n + 0.5 * k))
            / (((o + 0.5) / (n + 0.5 * k) + (b + 0.5) / (m + 0.5 * k)) / 2))
          + (b + 0.5) / (m + 0.5 * k) * ln(((b + 0.5) / (m + 0.5 * k))
            / (((o + 0.5) / (n + 0.5 * k) + (b + 0.5) / (m + 0.5 * k)) / 2))) / 2 AS t
  FROM grid CROSS JOIN kk CROSS JOIN mm)
SELECT CAST(pid AS INT) AS partition_id, 'lang' AS column_name, 'js' AS test,
       CASE WHEN max(n) < 20 THEN 0.0 ELSE round(sum(t), 6) END AS statistic,
       CAST(max(n) AS BIGINT) AS n
FROM terms GROUP BY pid
"""


def q_drift_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition VOCABULARY drift (drift.vocab_drift): every word
    token is one observation, hashed into 256 md5 buckets (finite
    category space at any vocabulary size), then the gated categorical
    JS machinery runs per partition vs the global token distribution.
    The oracle re-derives tokenization, the md5 bucket of every token,
    and the smoothed half-KL grid from scratch."""
    from validate_xml_rust_spark.operators.drift import vocab_drift

    docs = _t(spark, sf_dir, "documents").withColumn(
        "partition_id", (F.col("doc_id") % 8).cast("int")
    )
    out = vocab_drift(docs, n_buckets=256, stat="js")
    return out.select("partition_id", "column_name", "test", "statistic", "n")


ORACLE_DRIFT_VOCAB = f"""
WITH toks AS (
  SELECT CAST(doc_id % 8 AS INT) AS pid,
         unnest(list_filter(regexp_split_to_array(
             lower(trim(coalesce(text, ''))), '[^a-z0-9]+'),
             x -> length(x) > 0)) AS tok
  FROM documents),
v AS (
  SELECT pid,
         CAST(CAST({_oracle_mix_ticket("tok", "vocab")} AS BIGINT) % 256
              AS VARCHAR) AS cat
  FROM toks),
base AS (SELECT cat, CAST(count(*) AS DOUBLE) AS b FROM v GROUP BY 1),
cats AS (SELECT cat FROM base UNION ALL SELECT '__OTHER__'),
kk AS (SELECT CAST(count(*) AS DOUBLE) AS k FROM cats),
mm AS (SELECT sum(b) AS m FROM base),
obs AS (SELECT pid, cat, count(*) AS o FROM v GROUP BY 1, 2),
pn AS (SELECT pid, CAST(sum(o) AS DOUBLE) AS n FROM obs GROUP BY 1),
grid AS (
  SELECT pn.pid, pn.n,
         CAST(coalesce(obs.o, 0) AS DOUBLE) AS o,
         coalesce(base.b, 0.0) AS b
  FROM pn CROSS JOIN cats
  LEFT JOIN obs ON obs.pid = pn.pid AND obs.cat = cats.cat
  LEFT JOIN base ON base.cat = cats.cat),
terms AS (
  SELECT pid, n,
         ((o + 0.5) / (n + 0.5 * k) * ln(((o + 0.5) / (n + 0.5 * k))
            / (((o + 0.5) / (n + 0.5 * k) + (b + 0.5) / (m + 0.5 * k)) / 2))
          + (b + 0.5) / (m + 0.5 * k) * ln(((b + 0.5) / (m + 0.5 * k))
            / (((o + 0.5) / (n + 0.5 * k) + (b + 0.5) / (m + 0.5 * k)) / 2))) / 2 AS t
  FROM grid CROSS JOIN kk CROSS JOIN mm)
SELECT CAST(pid AS INT) AS partition_id, 'vocab' AS column_name, 'js' AS test,
       CASE WHEN max(n) < 20 THEN 0.0 ELSE round(sum(t), 6) END AS statistic,
       CAST(max(n) AS BIGINT) AS n
FROM terms GROUP BY pid
"""


def q_drift_psi_nchars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned numeric PSI (operators/drift.py `psi_numeric_drift_check`):
    n_chars through fixed [0,400)/10 bins with edge clamping, then the
    zero-Python PSI plan per partition. The oracle recomputes binning and
    the smoothed statistic from scratch (bin labels never cross engines —
    PSI is label-agnostic — but the bin PARTITIONING of values must agree
    exactly, which the clamped floor arithmetic pins)."""
    from validate_xml_rust_spark.operators.drift import psi_numeric_drift_check

    docs = _t(spark, sf_dir, "documents").withColumn(
        "partition_id", (F.col("doc_id") % 8).cast("int")
    )
    out = psi_numeric_drift_check(docs, "n_chars", lo=0.0, hi=400.0, n_bins=10)
    return out.select("partition_id", "column_name", "test", "statistic", "n")


ORACLE_DRIFT_PSI_NCHARS = """
WITH v AS (
  SELECT CAST(doc_id % 8 AS INT) AS pid,
         CAST(CAST(least(9, greatest(0,
             floor(CAST(n_chars AS DOUBLE) / 40.0))) AS BIGINT) AS VARCHAR) AS cat
  FROM documents WHERE n_chars IS NOT NULL),
base AS (SELECT cat, CAST(count(*) AS DOUBLE) AS b FROM v GROUP BY 1),
cats AS (SELECT cat FROM base UNION ALL SELECT '__OTHER__'),
kk AS (SELECT CAST(count(*) AS DOUBLE) AS k FROM cats),
mm AS (SELECT sum(b) AS m FROM base),
obs AS (SELECT pid, cat, count(*) AS o FROM v GROUP BY 1, 2),
pn AS (SELECT pid, CAST(sum(o) AS DOUBLE) AS n FROM obs GROUP BY 1),
grid AS (
  SELECT pn.pid, pn.n,
         CAST(coalesce(obs.o, 0) AS DOUBLE) AS o,
         coalesce(base.b, 0.0) AS b
  FROM pn CROSS JOIN cats
  LEFT JOIN obs ON obs.pid = pn.pid AND obs.cat = cats.cat
  LEFT JOIN base ON base.cat = cats.cat),
terms AS (
  SELECT pid, n,
         ((o + 0.5) / (n + 0.5 * k) - (b + 0.5) / (m + 0.5 * k))
           * ln(((o + 0.5) / (n + 0.5 * k)) / ((b + 0.5) / (m + 0.5 * k))) AS t
  FROM grid CROSS JOIN kk CROSS JOIN mm)
SELECT CAST(pid AS INT) AS partition_id, 'n_chars' AS column_name, 'psi' AS test,
       CASE WHEN max(n) < 20 THEN 0.0 ELSE round(sum(t), 6) END AS statistic,
       CAST(max(n) AS BIGINT) AS n
FROM terms GROUP BY pid
"""


def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-space drift (operators/drift.py `embedding_drift_check`):
    every vector assigned to its nearest of four anchor vectors (vec_id 0-3),
    then per-partition PSI over the cluster distribution. The oracle
    recomputes the argmin assignment (squared distance via list_zip) AND
    the smoothed PSI entirely in SQL — both the Arrow assignment UDF and
    the closed-form statistic are cross-engine verified."""
    import numpy as np

    from validate_xml_rust_spark.operators.drift import embedding_drift_check

    emb = _t(spark, sf_dir, "embeddings")
    anchors = np.array(
        [
            r["embedding"]
            for r in emb.filter(F.col("vec_id") < 4).orderBy("vec_id").collect()
        ],
        dtype="float64",
    )
    out = embedding_drift_check(
        emb.withColumn("partition_id", (F.col("vec_id") % 4).cast("int")),
        "embedding",
        anchors,
    )
    return out.select("partition_id", "column_name", "test", "statistic", "n")


ORACLE_EMBEDDING_DRIFT = """
WITH anch AS (SELECT vec_id AS aid, embedding AS av FROM embeddings WHERE vec_id < 4),
a AS (
  SELECT e.vec_id, CAST(e.vec_id % 4 AS INT) AS pid,
         CAST((SELECT aid FROM (
             SELECT an.aid AS aid,
                    list_sum(list_transform(list_zip(e.embedding, an.av),
                      p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                         * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))) AS d2
             FROM anch an) t ORDER BY d2, aid LIMIT 1) AS VARCHAR) AS cat
  FROM embeddings e WHERE e.embedding IS NOT NULL),
base AS (SELECT cat, CAST(count(*) AS DOUBLE) AS b FROM a GROUP BY 1),
cats AS (SELECT cat FROM base UNION ALL SELECT '__OTHER__'),
kk AS (SELECT CAST(count(*) AS DOUBLE) AS k FROM cats),
mm AS (SELECT sum(b) AS m FROM base),
obs AS (SELECT pid, cat, count(*) AS o FROM a GROUP BY 1, 2),
pn AS (SELECT pid, CAST(sum(o) AS DOUBLE) AS n FROM obs GROUP BY 1),
grid AS (
  SELECT pn.pid, pn.n,
         CAST(coalesce(obs.o, 0) AS DOUBLE) AS o,
         coalesce(base.b, 0.0) AS b
  FROM pn CROSS JOIN cats
  LEFT JOIN obs ON obs.pid = pn.pid AND obs.cat = cats.cat
  LEFT JOIN base ON base.cat = cats.cat),
terms AS (
  SELECT pid, n,
         ((o + 0.5) / (n + 0.5 * k) - (b + 0.5) / (m + 0.5 * k))
           * ln(((o + 0.5) / (n + 0.5 * k)) / ((b + 0.5) / (m + 0.5 * k))) AS t
  FROM grid CROSS JOIN kk CROSS JOIN mm)
SELECT CAST(pid AS INT) AS partition_id, 'cluster' AS column_name, 'psi' AS test,
       CASE WHEN max(n) < 20 THEN 0.0 ELSE round(sum(t), 6) END AS statistic,
       CAST(max(n) AS BIGINT) AS n
FROM terms GROUP BY pid
"""


def q_url_canonical_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization → duplicate-group detection
    (functions/urlnorm.py): five deterministic raw spellings per logical
    page (www. prefix, :443 default port, uppercase scheme, fragment,
    trailing slash, unsorted + tracking query params) must collapse to two
    canonical groups. The oracle restates BOTH the url synthesis and the
    full normalization pipeline (same RE2 regexes, list sort/filter) in
    SQL — cross-engine proof of every canonicalization rule."""
    from validate_xml_rust_spark.functions.urlnorm import canonical_dup_groups

    docs = _t(spark, sf_dir, "documents")
    out = canonical_dup_groups(_synth_urls(docs))
    return out.select(
        "canonical_url",
        F.col("n_raw").cast("long").alias("n_raw"),
        F.col("n_distinct_raw").cast("long").alias("n_distinct_raw"),
    )


def _synth_urls(docs: DataFrame) -> DataFrame:
    """Five deterministic raw spellings per logical page (shared by the
    canonicalization and blocklist gate variants)."""
    g = F.floor(F.col("doc_id") / 5).cast("long")
    v = F.col("doc_id") % 5
    host = F.concat(F.lit("h"), (g % 7).cast("string"), F.lit(".example.com"))
    stem = F.concat(F.lit("/a/doc-"), g.cast("string"))
    url = (
        F.when(v == 0, F.concat(F.lit("https://"), host, stem))
        .when(v == 1, F.concat(F.lit("https://www."), host, stem, F.lit("/")))
        .when(v == 2, F.concat(F.lit("HTTPS://"), host, F.lit(":443"), stem, F.lit("#frag")))
        .when(v == 3, F.concat(F.lit("https://"), host, stem, F.lit("?utm_source=feed&b=2&a=1")))
        .otherwise(F.concat(F.lit("https://"), host, stem, F.lit("?a=1&b=2")))
    )
    return docs.select(url.alias("url"))


def q_url_policy_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dup-groups PLUS UT1-style domain-blocklist
    matching (functions/urlnorm.py domain_blocklist_flags — the
    C4/RefinedWeb blocked-domain curation step) over the same
    synthesized raw urls. blocked_host matches exact registered hosts
    through the www./port/scheme normalizations; blocked_suffix matches
    every subdomain of a registered domain via the suffix-explode
    equi-join. The oracle restates host extraction with the same RE2
    steps and the suffix rule as equals-or-LIKE '%.domain'."""
    from validate_xml_rust_spark.functions.urlnorm import (
        domain_blocklist_flags,
    )

    canon = q_url_canonical_dups(spark, sf_dir).select(
        F.lit("canon").alias("variant"),
        "canonical_url", "n_raw", "n_distinct_raw",
    )
    urls = _synth_urls(_t(spark, sf_dir, "documents"))

    def blocked_counts(domains: list, tag: str) -> DataFrame:
        bl = local_frame(spark, "domain string", {"domain": domains})
        hits = domain_blocklist_flags(
            urls, bl, host_out="canonical_url"
        ).filter(F.col("blocked"))
        return (
            hits.select("canonical_url")
            .groupBy("canonical_url")
            .agg(F.count(F.lit(1)).cast("long").alias("n_raw"))
            .select(
                F.lit(tag).alias("variant"),
                "canonical_url",
                "n_raw",
                F.lit(None).cast("long").alias("n_distinct_raw"),
            )
        )

    # composed policy: UT1 blocklist + robots-disallow registry on the
    # same urls — the reason key proves both flags ride one frame and a
    # host hit by both policies reports 'both', not two rows
    from validate_xml_rust_spark.functions.urlnorm import (
        robots_exclusion_flags,
    )

    bl = local_frame(spark, "domain string", {"domain": ["h2.example.com"]})
    rb = local_frame(spark, "domain string", {
        "domain": ["h2.example.com", "h5.example.com", "h6.example.com"],
    })
    flagged = robots_exclusion_flags(
        domain_blocklist_flags(urls, bl), rb, host_out="__h"
    )
    reason = (
        F.when(F.col("blocked") & F.col("robots_excluded"), "both")
        .when(F.col("robots_excluded"), "robots")
        .otherwise("blocklist")
    )
    robots = (
        flagged.filter(F.col("blocked") | F.col("robots_excluded"))
        .select(F.concat(F.col("__h"), F.lit(":"), reason).alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(F.count(F.lit(1)).cast("long").alias("n_raw"))
        .select(
            F.lit("robots").alias("variant"),
            "canonical_url",
            "n_raw",
            F.lit(None).cast("long").alias("n_distinct_raw"),
        )
    )

    # license signal pack over synthesized html snippets (rel="license"
    # microformat in both quote styles, CC license URLs, CC0 dedication)
    from validate_xml_rust_spark.operators.textstats import license_signals

    docs = _t(spark, sf_dir, "documents")
    v = F.col("doc_id") % 7
    html = (
        F.when(v == 1, F.lit(
            '<a rel="license" href="https://creativecommons.org/licenses/by/4.0/">CC BY</a>'
        ))
        .when(v == 2, F.lit(
            '<a href="https://creativecommons.org/licenses/by-sa/3.0/">share-alike</a>'
        ))
        .when(v == 3, F.lit(
            "<a rel='license' href='https://creativecommons.org/licenses/by-nc-nd/2.5/'>nc</a>"
        ))
        .when(v == 4, F.lit(
            '<a href="https://creativecommons.org/publicdomain/zero/1.0/">cc0</a>'
        ))
        .otherwise(F.lit("<p>no license here</p>"))
    )
    lic = (
        license_signals(docs.select(html.alias("html")), "html")
        .select(
            F.concat(
                F.coalesce(F.col("cc_license"), F.lit("none")),
                F.lit(":"),
                F.when(F.col("has_license_rel"), "rel").otherwise("norel"),
            ).alias("canonical_url")
        )
        .groupBy("canonical_url")
        .agg(F.count(F.lit(1)).cast("long").alias("n_raw"))
        .select(
            F.lit("license").alias("variant"),
            "canonical_url",
            "n_raw",
            F.lit(None).cast("long").alias("n_distinct_raw"),
        )
    )

    return (
        canon.unionByName(
            blocked_counts(["h2.example.com", "h4.example.com"], "blocked_host")
        )
        .unionByName(blocked_counts(["example.com"], "blocked_suffix"))
        .unionByName(robots)
        .unionByName(lic)
    )


# Lockstep with functions/urlnorm.py (both RE2-safe, no lookaround).
from validate_xml_rust_spark.functions.urlnorm import (  # noqa: E402
    TRACKING_PARAM_RE as _TRK_RE,
    URL_PARTS_RE as _URL_RE,
)

ORACLE_URL_CANONICAL_DUPS = f"""
WITH u AS (
  SELECT doc_id, CAST(floor(doc_id / 5) AS BIGINT) AS g, doc_id % 5 AS v
  FROM documents),
raw AS (
  SELECT CASE v
    WHEN 0 THEN 'https://h' || (g % 7) || '.example.com/a/doc-' || g
    WHEN 1 THEN 'https://www.h' || (g % 7) || '.example.com/a/doc-' || g || '/'
    WHEN 2 THEN 'HTTPS://h' || (g % 7) || '.example.com:443/a/doc-' || g || '#frag'
    WHEN 3 THEN 'https://h' || (g % 7) || '.example.com/a/doc-' || g
                || '?utm_source=feed&b=2&a=1'
    ELSE 'https://h' || (g % 7) || '.example.com/a/doc-' || g || '?a=1&b=2'
    END AS url
  FROM u),
parts AS (
  SELECT url,
         lower(regexp_extract(trim(url), '{_URL_RE}', 1)) AS scheme,
         lower(regexp_extract(trim(url), '{_URL_RE}', 2)) AS auth0,
         regexp_extract(trim(url), '{_URL_RE}', 3) AS path0,
         regexp_extract(trim(url), '{_URL_RE}', 4) AS rawq
  FROM raw),
norm AS (
  SELECT url, scheme,
    regexp_replace(
      CASE WHEN scheme = 'http' THEN regexp_replace(auth0, ':80$', '')
           WHEN scheme = 'https' THEN regexp_replace(auth0, ':443$', '')
           ELSE auth0 END, '^(www\\.)+', '') AS auth,
    regexp_replace(path0, '/+$', '') AS path,
    coalesce(array_to_string(list_sort(list_filter(
        string_split(regexp_replace(rawq, '^\\?', ''), '&'),
        x -> len(x) > 0 AND NOT regexp_matches(x, '{_TRK_RE}'))), '&'), '') AS query
  FROM parts),
canon AS (
  SELECT url,
         scheme || '://' || auth || path ||
         CASE WHEN query = '' THEN '' ELSE '?' || query END AS canonical_url
  FROM norm WHERE scheme <> '')
SELECT canonical_url, CAST(count(*) AS BIGINT) AS n_raw,
       CAST(count(DISTINCT url) AS BIGINT) AS n_distinct_raw
FROM canon GROUP BY 1 HAVING count(*) > 1
"""


def _oracle_url_blocked(cond: str) -> str:
    """Blocklist restatement over the same raw-url synthesis: canonical
    host via the identical RE2 steps (userinfo, :port, (www.)+), then
    equals-or-subdomain as ``h = d OR h LIKE '%.d'``."""
    return f"""
WITH u AS (
  SELECT doc_id, CAST(floor(doc_id / 5) AS BIGINT) AS g, doc_id % 5 AS v
  FROM documents),
raw AS (
  SELECT CASE v
    WHEN 0 THEN 'https://h' || (g % 7) || '.example.com/a/doc-' || g
    WHEN 1 THEN 'https://www.h' || (g % 7) || '.example.com/a/doc-' || g || '/'
    WHEN 2 THEN 'HTTPS://h' || (g % 7) || '.example.com:443/a/doc-' || g || '#frag'
    WHEN 3 THEN 'https://h' || (g % 7) || '.example.com/a/doc-' || g
                || '?utm_source=feed&b=2&a=1'
    ELSE 'https://h' || (g % 7) || '.example.com/a/doc-' || g || '?a=1&b=2'
    END AS url
  FROM u),
hostx AS (
  SELECT lower(regexp_extract(trim(url), '{_URL_RE}', 1)) AS scheme,
         regexp_replace(regexp_replace(regexp_replace(
             lower(regexp_extract(trim(url), '{_URL_RE}', 2)),
             '^[^@]*@', ''), ':[0-9]+$', ''), '^(www\\.)+', '') AS h
  FROM raw)
SELECT h AS canonical_url, CAST(count(*) AS BIGINT) AS n_raw,
       CAST(NULL AS BIGINT) AS n_distinct_raw
FROM hostx WHERE scheme <> '' AND ({cond}) GROUP BY 1
"""


def _oracle_url_policy_composed(bl_cond: str, rb_cond: str) -> str:
    """Composed blocklist + robots policy over the same raw-url
    synthesis: per-host counts keyed by host:reason (both / robots /
    blocklist)."""
    return f"""
WITH u AS (
  SELECT doc_id, CAST(floor(doc_id / 5) AS BIGINT) AS g, doc_id % 5 AS v
  FROM documents),
raw AS (
  SELECT CASE v
    WHEN 0 THEN 'https://h' || (g % 7) || '.example.com/a/doc-' || g
    WHEN 1 THEN 'https://www.h' || (g % 7) || '.example.com/a/doc-' || g || '/'
    WHEN 2 THEN 'HTTPS://h' || (g % 7) || '.example.com:443/a/doc-' || g || '#frag'
    WHEN 3 THEN 'https://h' || (g % 7) || '.example.com/a/doc-' || g
                || '?utm_source=feed&b=2&a=1'
    ELSE 'https://h' || (g % 7) || '.example.com/a/doc-' || g || '?a=1&b=2'
    END AS url
  FROM u),
hostx AS (
  SELECT lower(regexp_extract(trim(url), '{_URL_RE}', 1)) AS scheme,
         regexp_replace(regexp_replace(regexp_replace(
             lower(regexp_extract(trim(url), '{_URL_RE}', 2)),
             '^[^@]*@', ''), ':[0-9]+$', ''), '^(www\\.)+', '') AS h
  FROM raw),
fl AS (
  SELECT h, scheme, ({bl_cond}) AS bl, ({rb_cond}) AS rb FROM hostx)
SELECT h || ':' || CASE WHEN bl AND rb THEN 'both'
                        WHEN rb THEN 'robots'
                        ELSE 'blocklist' END AS canonical_url,
       CAST(count(*) AS BIGINT) AS n_raw,
       CAST(NULL AS BIGINT) AS n_distinct_raw
FROM fl WHERE scheme <> '' AND (bl OR rb) GROUP BY 1
"""


# license-signal restatement: the same html synthesis schedule, the same
# RE2 regexes (CC_LICENSE_RE / CC_ZERO_RE verbatim from textstats.py),
# the same contains probes on the lowered copy
from validate_xml_rust_spark.operators.textstats import (  # noqa: E402
    CC_LICENSE_RE as _CC_RE,
    CC_ZERO_RE as _CC0_RE,
)

_ORACLE_LICENSE_SIGNALS = f"""
WITH synth AS (
  SELECT CASE doc_id % 7
    WHEN 1 THEN '<a rel="license" href="https://creativecommons.org/licenses/by/4.0/">CC BY</a>'
    WHEN 2 THEN '<a href="https://creativecommons.org/licenses/by-sa/3.0/">share-alike</a>'
    WHEN 3 THEN '<a rel=''license'' href=''https://creativecommons.org/licenses/by-nc-nd/2.5/''>nc</a>'
    WHEN 4 THEN '<a href="https://creativecommons.org/publicdomain/zero/1.0/">cc0</a>'
    ELSE '<p>no license here</p>' END AS html
  FROM documents),
sig AS (
  SELECT lower(coalesce(html, '')) AS h FROM synth),
ext AS (
  SELECT (contains(h, 'rel="license"') OR contains(h, 'rel=''license''')
          OR contains(h, 'rel=license')) AS rel,
         regexp_extract(h, '{_CC_RE}', 1) AS cc_type,
         regexp_extract(h, '{_CC_RE}', 2) AS cc_ver,
         regexp_extract(h, '{_CC0_RE}', 1) AS cc0_ver
  FROM sig),
lic AS (
  SELECT CASE WHEN cc_type <> '' THEN 'cc-' || cc_type || '-' || cc_ver
              WHEN cc0_ver <> '' THEN 'cc0-' || cc0_ver
              ELSE NULL END AS cc_license, rel
  FROM ext)
SELECT coalesce(cc_license, 'none') || ':' ||
       CASE WHEN rel THEN 'rel' ELSE 'norel' END AS canonical_url,
       CAST(count(*) AS BIGINT) AS n_raw,
       CAST(NULL AS BIGINT) AS n_distinct_raw
FROM lic GROUP BY 1
"""


def q_salted_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic two-phase salted aggregation (operators/skew.py) over the
    few-hot-keys event_type column — the exact shape AQE does NOT cover
    (skew-split applies to joins, not aggregations). Sums accumulate in
    DECIMAL through BOTH phases (exact, order-free), double at the end."""
    from validate_xml_rust_spark.operators.skew import salted_agg

    ev = _t(spark, sf_dir, "events").withColumn(
        "v", F.col("value").cast("decimal(18,6)")
    )
    out = salted_agg(
        ev,
        ["event_type"],
        [
            ("count", None, "n"),
            ("sum", "v", "sum_value"),
            ("min", "value", "min_value"),
            ("max", "value", "max_value"),
        ],
        n_salts=8,
    )
    return out.select(
        "event_type", "n",
        F.col("sum_value").cast("double").alias("sum_value"),
        "min_value", "max_value",
    )


ORACLE_SALTED_EVENT_STATS = """
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
       min(value) AS min_value, max(value) AS max_value
FROM events GROUP BY event_type
"""


def q_resume_pending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resume contract (operators/resume.py J2): rows of not-yet-completed
    partitions via broadcast left-anti against the completed-partition
    manifest (here a literal manifest: partitions 0, 3, 5 done)."""
    from validate_xml_rust_spark.operators.resume import pending_against

    docs = _t(spark, sf_dir, "documents").withColumn(
        "partition_id", (F.col("doc_id") % 8).cast("int")
    )
    done = local_frame(spark, "partition_id int", {"partition_id": [0, 3, 5]})
    return pending_against(docs, done).select("doc_id", "partition_id")


ORACLE_RESUME_PENDING = """
SELECT doc_id, CAST(doc_id % 8 AS INT) AS partition_id
FROM documents WHERE doc_id % 8 NOT IN (0, 3, 5)
"""


def q_incremental_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level snapshot-diff validation (operators/resume.py
    `incremental_verdicts`): a prior snapshot covers doc_id % 4 != 0, and
    rows with doc_id % 5 == 0 carry a stale fingerprint (content changed
    since). Unchanged rows must carry their prior verdict forward
    (revalidated=false); new (% 4 == 0) and changed (% 5 == 0) rows
    re-validate. The oracle recomputes every verdict from scratch PLUS
    the closed-form revalidated flag — proving carried-forward verdicts
    are byte-identical to full recomputation and the reuse/delta routing
    is exact."""
    from validate_xml_rust_spark.operators.resume import (
        content_fingerprint,
        incremental_verdicts,
    )

    fcols = ["text", "lang", "source", "n_chars"]
    docs = _t(spark, sf_dir, "documents").withColumn(
        "doc_key", F.col("doc_id").cast("string")
    )
    prior_docs = docs.filter(F.col("doc_id") % 4 != 0)
    prior_res = validate(
        prior_docs, spark, doc_registry(), route_col="lang", id_col="doc_key",
        partition_col=None,
    )
    stale_fp = F.when(F.col("doc_id") % 5 == 0, F.lit("stale")).otherwise(
        content_fingerprint(fcols)
    )
    prior = prior_docs.select("doc_key", stale_fp.alias("content_fp")).join(
        prior_res.verdicts.select(
            F.col("url").alias("doc_key"), "spec_id", "status", "error_count"
        ),
        "doc_key",
    )
    out = incremental_verdicts(
        docs, prior, spark, doc_registry(), fcols,
        id_col="doc_key", route_col="lang", partition_col=None,
    )
    return out.select("doc_key", "spec_id", "status", "error_count", "revalidated")


ORACLE_INCREMENTAL_VALIDATE = f"""
SELECT CAST(doc_id AS VARCHAR) AS doc_key,
       CASE WHEN lang IN ('en','de','fr') THEN 'doc-v1'
            WHEN lang = 'es' THEN 'doc-missing-v9' END AS spec_id,
       {_ORACLE_STATUS} AS status,
       CAST(CASE WHEN ({_ORACLE_STATUS}) = 'invalid' THEN ({_ORACLE_FAILS}) ELSE 0 END AS INT) AS error_count,
       (doc_id % 4 = 0 OR doc_id % 5 = 0) AS revalidated
FROM documents
"""


def q_verdict_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-over-run verdict regression diff (summary.verdict_diff): two
    planted verdict runs over the documents ids exercising EVERY
    transition kind plus the hardening contracts — ``added`` (ids only in
    the new run, doc_id % 7 == 0), ``removed`` (% 11 == 0),
    regressed/fixed/changed via a +2 status rotation, worst-of-duplicates
    (every % 13 == 0 old id carries a second 'error' row that must win
    the reduction), out-of-vocabulary statuses ('legacy-fail' on
    % 17 == 0 — ranks worse than error, label preserved), and NULL
    statuses (% 19 == 0 new rows — normalized to 'unknown', never
    mislabeled added). The oracle re-derives the reduction + full-outer
    join + transition CASE from the same closed-form planting."""
    from validate_xml_rust_spark.operators.summary import verdict_diff

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    sev = F.array(
        F.lit("valid"), F.lit("skipped"), F.lit("invalid"), F.lit("error")
    )
    i = F.col("doc_id")
    old_base = F.when(i % 17 == 0, F.lit("legacy-fail")).otherwise(
        F.element_at(sev, (i % 4 + 1).cast("int"))
    )
    old = docs.filter(i % 7 != 0).select(
        i.cast("string").alias("url"), old_base.alias("status")
    )
    old_dup = docs.filter((i % 7 != 0) & (i % 13 == 0)).select(
        i.cast("string").alias("url"), F.lit("error").alias("status")
    )
    new_status = F.when(i % 19 == 0, F.lit(None).cast("string")).otherwise(
        F.element_at(sev, ((i + 2) % 4 + 1).cast("int"))
    )
    new = docs.filter(i % 11 != 0).select(
        i.cast("string").alias("url"), new_status.alias("status")
    )
    return verdict_diff(old.unionByName(old_dup), new)


ORACLE_VERDICT_DIFF = """
WITH old_rows AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_key,
         CASE WHEN doc_id % 17 = 0 THEN 'legacy-fail'
              WHEN doc_id % 13 = 0 THEN 'error'
              ELSE (CASE doc_id % 4 WHEN 0 THEN 'valid' WHEN 1 THEN 'skipped'
                    WHEN 2 THEN 'invalid' ELSE 'error' END) END AS old_status
  FROM documents WHERE doc_id % 7 <> 0),
new_rows AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_key,
         CASE WHEN doc_id % 19 = 0 THEN 'unknown'
              ELSE (CASE (doc_id + 2) % 4 WHEN 0 THEN 'valid' WHEN 1 THEN 'skipped'
                    WHEN 2 THEN 'invalid' ELSE 'error' END) END AS new_status
  FROM documents WHERE doc_id % 11 <> 0),
j AS (
  SELECT coalesce(o.doc_key, n.doc_key) AS url, o.old_status, n.new_status
  FROM old_rows o FULL OUTER JOIN new_rows n ON o.doc_key = n.doc_key)
SELECT url, old_status, new_status,
       CASE WHEN old_status IS NULL THEN 'added'
            WHEN new_status IS NULL THEN 'removed'
            WHEN old_status = 'valid' AND new_status <> 'valid' THEN 'regressed'
            WHEN old_status <> 'valid' AND new_status = 'valid' THEN 'fixed'
            ELSE 'changed' END AS transition
FROM j
WHERE old_status IS NULL OR new_status IS NULL OR old_status <> new_status
"""


def q_incremental_validate_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-validation suite: snapshot-diff carry-forward
    (incremental variant) + run-over-run verdict regression diff
    (verdict_diff variant) — the two run-chaining operators share the
    uniform-id join machinery, harmonized to one schema."""
    inc = q_incremental_validate(spark, sf_dir).select(
        F.lit("incremental").alias("variant"),
        "doc_key", "spec_id", "status",
        F.col("error_count").cast("long").alias("error_count"),
        "revalidated",
        F.lit(None).cast("string").alias("old_status"),
        F.lit(None).cast("string").alias("new_status"),
        F.lit(None).cast("string").alias("transition"),
    )
    vd = q_verdict_diff(spark, sf_dir).select(
        F.lit("verdict_diff").alias("variant"),
        F.col("url").alias("doc_key"),
        F.lit(None).cast("string").alias("spec_id"),
        F.lit(None).cast("string").alias("status"),
        F.lit(None).cast("long").alias("error_count"),
        F.lit(None).cast("boolean").alias("revalidated"),
        "old_status", "new_status", "transition",
    )
    return inc.unionByName(vd)


ORACLE_INCREMENTAL_VALIDATE_SUITE = f"""
SELECT 'incremental' AS variant, doc_key, spec_id, status,
       CAST(error_count AS BIGINT) AS error_count, revalidated,
       CAST(NULL AS VARCHAR) AS old_status, CAST(NULL AS VARCHAR) AS new_status,
       CAST(NULL AS VARCHAR) AS transition
FROM ({ORACLE_INCREMENTAL_VALIDATE}) i
UNION ALL
SELECT 'verdict_diff', url, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
       CAST(NULL AS BIGINT), CAST(NULL AS BOOLEAN),
       old_status, new_status, transition
FROM ({ORACLE_VERDICT_DIFF}) v
"""


def q_exit_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CLI exit-code ladder — the reference's outermost contract
    (src/main.rs:113-119: 0 all valid/skipped, 1 config error or
    fail-fast, 2 errors present, 3 invalid present) — pinned in the
    driver gate by running the real in-process CLI over deterministic
    synthetic scenarios. The planted-page schedule guarantees each
    scenario's verdict mix: synth ids 0/997k carry NULL urls (invalid
    under a not-null spec), id 641 carries malformed UTF-8 html and id
    523 a ghost spec reference (both → error under the default
    registry). Oracle: the contract constants."""
    import json as _json
    import tempfile

    from validate_xml_rust_spark.cli import main as cli_main

    def spec_file(td: str, name: str, predicate: str) -> str:
        p = f"{td}/{name}.json"
        with open(p, "w") as f:
            _json.dump(
                {
                    "spec_id": f"{name}-v1",
                    "constraints": [
                        {"constraint_id": name, "column": "url",
                         "kind": "expr", "params": {"predicate": predicate}},
                    ],
                },
                f,
            )
        return p

    with tempfile.TemporaryDirectory(prefix="vxrs_cli_gate_") as td:
        rows = [
            ("all_valid", cli_main(
                ["synth:300", "-q", "--spec", spec_file(td, "permissive", "1 = 1")])),
            ("invalid_rows", cli_main(
                ["synth:300", "-q", "--spec",
                 spec_file(td, "url-not-null", "url IS NOT NULL")])),
            ("error_rows", cli_main(["synth:700", "-q"])),
            ("fail_fast", cli_main(["synth:700", "-q", "--fail-fast"])),
            ("config_error", cli_main(["/definitely/missing/path"])),
        ]
    # bigint on both sides — the driver's value hash canonicalizes int32
    # and int64 differently (CLAUDE.md gate-typing rule)
    return local_frame(spark, "scenario string, exit_code long", {
        "scenario": [s for s, _ in rows], "exit_code": [c for _, c in rows],
    })


ORACLE_EXIT_CODES = """
SELECT scenario, CAST(exit_code AS BIGINT) AS exit_code FROM (VALUES
  ('all_valid', 0), ('invalid_rows', 3), ('error_rows', 2),
  ('fail_fast', 1), ('config_error', 1)
) AS t(scenario, exit_code)
"""


def q_scan_url_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-discovery predicates (sources/scan.py S2-S4) as one
    pipeline over synthesized urls: extension filter → include/exclude
    globs (exclude wins) → max path depth. The oracle restates each with
    independent SQL (LIKE / the translated regexes / path-segment count)."""
    from validate_xml_rust_spark.sources.scan import (
        extension_filter,
        glob_filters,
        max_depth_filter,
    )

    docs = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/"), F.col("lang"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("/archive")).otherwise(F.lit("")),
        F.lit("/doc-"), F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 2 == 0, F.lit(".html")).otherwise(F.lit(".txt")),
    )
    d = docs.select("doc_id", url.alias("url"))
    d = extension_filter(d, ["html"])
    d = glob_filters(d, include=["**/en/**"], exclude=["**/doc-1*"])
    d = max_depth_filter(d, 2)
    return d.select("doc_id", "url")


ORACLE_SCAN_URL_FILTERS = r"""
WITH u AS (
  SELECT doc_id,
         'https://' || source || '.example.com/' || lang ||
         (CASE WHEN doc_id % 3 = 0 THEN '/archive' ELSE '' END) ||
         '/doc-' || CAST(doc_id AS VARCHAR) ||
         (CASE WHEN doc_id % 2 = 0 THEN '.html' ELSE '.txt' END) AS url
  FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL)
SELECT doc_id, url FROM u
WHERE url LIKE '%.html'
  AND regexp_matches(url, '^.*/en/.*$')
  AND NOT regexp_matches(url, '^.*/doc-1[^/]*$')
  AND len(list_filter(
        regexp_split_to_array(regexp_extract(url, '^[a-z]+://[^/]+(/.*)$', 1), '/'),
        x -> length(x) > 0)) <= 2
"""


def q_extract_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-identical extraction (functions/text_extract.py, north-rule
    invariant): wrap each document's text in an HTML page with script and
    style elements, run the binary-decode + extractor pipeline, and return
    the extracted text. The oracle states the EXPECTED bytes independently
    (whitespace-collapsed trimmed text) — equality proves script/style
    dropping, tag stripping, ws collapse, and the UTF-8 decode gate leave
    the payload byte-identical."""
    from validate_xml_rust_spark.functions.text_extract import extract_text_col

    docs = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit('<html><head><script type="text/javascript">var x = 1 < 2;'
              "</script><style>p { color: red; }</style></head><body><p>"),
        F.col("text"),
        F.lit("</p></body></html>"),
    )
    return docs.select(
        "doc_id", extract_text_col(F.encode(html, "UTF-8")).alias("extracted")
    )


ORACLE_EXTRACT_TEXT_ROUNDTRIP = r"""
SELECT doc_id, regexp_replace(trim(text), '\s+', ' ', 'g') AS extracted
FROM documents
"""


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition (textstats.repetition_stats):
    duplicated-unigram and duplicated-bigram fractions + the drop flag.
    The oracle recomputes both ratios over string tokens/bigram strings
    (hash-domain vs string-domain equivalence, as with the Jaccard
    oracles)."""
    from validate_xml_rust_spark.operators.textstats import repetition_stats

    docs = _t(spark, sf_dir, "documents")
    return repetition_stats(docs).select(
        "doc_id", "unigram_rep", "bigram_rep", "dup_line_frac",
        "dup_para_frac", "dup_line_char_frac", "dup_para_char_frac",
        "top2_char_frac", "top3_char_frac", "top4_char_frac",
        "dup5_char_frac", "dup10_char_frac", "rep_ngram_pass",
        "rep_dup_pass", "repetitive",
    )


def _oracle_gram_cte(n: int) -> str:
    """Positional word n-gram CTEs for one n: gram string + its token
    char sum (gn{n}), per-gram counts (c{n}), the top-gram char mass
    (top{n}: max count, char-weight tie-break, 0 when max count < 2 —
    the same selection ngram_coverage_udf makes in hash domain), and the
    duplicated-gram covered-position char mass (cc{n}: union of [i, i+n)
    over occurrences of grams with count > 1, each position once)."""
    return f"""
gn{n} AS (
  SELECT doc_id, i, array_to_string(w[i:i+{n - 1}], ' ') AS g,
         list_sum(list_transform(w[i:i+{n - 1}], x -> CAST(length(x) AS BIGINT))) AS gc
  FROM (SELECT doc_id, w, unnest(range(1, len(w) - {n} + 2)) AS i FROM toks)),
c{n} AS (
  SELECT doc_id, g, count(*) AS c, min(gc) AS gc
  FROM gn{n} GROUP BY doc_id, g),
top{n} AS (
  SELECT doc_id,
         CASE WHEN max(c) < 2 THEN 0
              ELSE max(CASE WHEN c = mx THEN c * gc END)
         END AS chars
  FROM (SELECT *, max(c) OVER (PARTITION BY doc_id) AS mx FROM c{n})
  GROUP BY doc_id),
cc{n} AS (
  SELECT cv.doc_id, sum(CAST(length(t.w[CAST(cv.p AS INT)]) AS BIGINT)) AS chars
  FROM (SELECT DISTINCT doc_id, p FROM
         (SELECT gn{n}.doc_id, unnest(range(gn{n}.i, gn{n}.i + {n})) AS p
          FROM gn{n} JOIN (SELECT doc_id, g FROM c{n} WHERE c > 1) d{n}
          USING (doc_id, g))) cv
  JOIN toks t USING (doc_id) GROUP BY cv.doc_id)"""


ORACLE_REPETITION_STATS = (
    r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(coalesce(text,''))), '[^a-z0-9]+'),
                     x -> length(x) > 0) AS w
  FROM documents),
tc AS (
  SELECT doc_id, coalesce(list_sum(list_transform(w, x -> CAST(length(x) AS BIGINT))), 0) AS tchars
  FROM toks),
g AS (
  SELECT doc_id, w,
         CASE WHEN len(w) = 0 THEN []
              WHEN len(w) >= 2 THEN
                list_transform(range(1, len(w)), i -> array_to_string(w[i:i+1], ' '))
              ELSE [array_to_string(w, ' ')] END AS bg
  FROM toks),
ln AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(coalesce(text,''), '\n'),
                     x -> x <> '') AS lns
  FROM documents),
pr AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(coalesce(text,''), '\n{2,}'),
                     x -> trim(x) <> '') AS ps
  FROM documents),
lstat AS (
  SELECT doc_id,
         coalesce(sum(c * length(l)), 0) AS tot,
         coalesce(sum(CASE WHEN c > 1 THEN c * length(l) END), 0) AS dup
  FROM (SELECT doc_id, l, count(*) AS c
        FROM (SELECT doc_id, unnest(lns) AS l FROM ln) GROUP BY doc_id, l)
  GROUP BY doc_id),
pstat AS (
  SELECT doc_id,
         coalesce(sum(c * length(p)), 0) AS tot,
         coalesce(sum(CASE WHEN c > 1 THEN c * length(p) END), 0) AS dup
  FROM (SELECT doc_id, p, count(*) AS c
        FROM (SELECT doc_id, unnest(ps) AS p FROM pr) GROUP BY doc_id, p)
  GROUP BY doc_id),"""
    + ",".join(_oracle_gram_cte(n) for n in (2, 3, 4, 5, 10))
    + r""",
r AS (
  SELECT g.doc_id,
         CASE WHEN len(w) = 0 THEN 0.0
              ELSE round(1 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 6) END AS unigram_rep,
         CASE WHEN len(bg) = 0 THEN 0.0
              ELSE round(1 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg), 6) END AS bigram_rep,
         CASE WHEN len(lns) = 0 THEN 0.0
              ELSE round(1 - CAST(len(list_distinct(lns)) AS DOUBLE) / len(lns), 6) END AS dup_line_frac,
         CASE WHEN len(ps) = 0 THEN 0.0
              ELSE round(1 - CAST(len(list_distinct(ps)) AS DOUBLE) / len(ps), 6) END AS dup_para_frac,
         CASE WHEN coalesce(lstat.tot, 0) = 0 THEN 0.0
              ELSE round(CAST(lstat.dup AS DOUBLE) / lstat.tot, 6) END AS dup_line_char_frac,
         CASE WHEN coalesce(pstat.tot, 0) = 0 THEN 0.0
              ELSE round(CAST(pstat.dup AS DOUBLE) / pstat.tot, 6) END AS dup_para_char_frac,
         CASE WHEN tchars = 0 THEN 0.0 ELSE round(CAST(coalesce(top2.chars, 0) AS DOUBLE) / tchars, 6) END AS top2_char_frac,
         CASE WHEN tchars = 0 THEN 0.0 ELSE round(CAST(coalesce(top3.chars, 0) AS DOUBLE) / tchars, 6) END AS top3_char_frac,
         CASE WHEN tchars = 0 THEN 0.0 ELSE round(CAST(coalesce(top4.chars, 0) AS DOUBLE) / tchars, 6) END AS top4_char_frac,
         CASE WHEN tchars = 0 THEN 0.0 ELSE round(CAST(coalesce(cc5.chars, 0) AS DOUBLE) / tchars, 6) END AS dup5_char_frac,
         CASE WHEN tchars = 0 THEN 0.0 ELSE round(CAST(coalesce(cc10.chars, 0) AS DOUBLE) / tchars, 6) END AS dup10_char_frac
  FROM g JOIN ln USING (doc_id) JOIN tc USING (doc_id)
  JOIN pr USING (doc_id)
  LEFT JOIN lstat USING (doc_id) LEFT JOIN pstat USING (doc_id)
  LEFT JOIN top2 USING (doc_id) LEFT JOIN top3 USING (doc_id)
  LEFT JOIN top4 USING (doc_id) LEFT JOIN cc5 USING (doc_id)
  LEFT JOIN cc10 USING (doc_id))
SELECT doc_id, unigram_rep, bigram_rep, dup_line_frac,
       dup_para_frac, dup_line_char_frac, dup_para_char_frac,
       top2_char_frac, top3_char_frac, top4_char_frac,
       dup5_char_frac, dup10_char_frac,
       (top2_char_frac <= 0.20 AND top3_char_frac <= 0.18
        AND top4_char_frac <= 0.16 AND dup5_char_frac <= 0.15
        AND dup10_char_frac <= 0.10) AS rep_ngram_pass,
       (dup_line_frac <= 0.30 AND dup_para_frac <= 0.30
        AND dup_line_char_frac <= 0.20 AND dup_para_char_frac <= 0.20)
       AS rep_dup_pass,
       (unigram_rep > 0.2 OR bigram_rep > 0.2) AS repetitive
FROM r
"""
)


# ---------------------------------------------------------------------------
# Curation queries (operators/curation.py): deterministic sampling,
# benchmark decontamination, PII redaction.
# ---------------------------------------------------------------------------

# (_oracle_mix_ticket moved near the top of the module — drift oracles use it)


_ORACLE_TICKET = (
    "list_sum(list_transform(range(1, 9), i -> "
    "(strpos('0123456789abcdef', substr(md5('s0:' || CAST(doc_id AS VARCHAR)), "
    "CAST(i AS INT), 1)) - 1) * power(16, 8 - i)))"
)


def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-keyed sampling (curation.hash_sample): the
    same rows are in the 25% sample on every run, partitioning, and
    engine — the oracle recomputes the md5 ticket nibble-by-nibble."""
    from validate_xml_rust_spark.operators.curation import hash_sample

    docs = _t(spark, sf_dir, "documents")
    return hash_sample(docs, 0.25, "doc_id").select("doc_id", "lang")


ORACLE_HASH_SAMPLE = f"""
SELECT doc_id, lang FROM documents
WHERE {_ORACLE_TICKET} < {int(0.25 * (1 << 32))}
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language rebalancing (curation.stratified_sample): en keeps
    50%, de 20%, everything else 5% — the training-mix knob, same
    deterministic ticket."""
    from validate_xml_rust_spark.operators.curation import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    return stratified_sample(
        docs, "lang", {"en": 0.5, "de": 0.2}, key_col="doc_id",
        default_rate=0.05,
    ).select("doc_id", "lang")


ORACLE_STRATIFIED_SAMPLE = f"""
SELECT doc_id, lang FROM documents
WHERE {_ORACLE_TICKET} <
      CASE lang WHEN 'en' THEN {int(0.5 * (1 << 32))}
                WHEN 'de' THEN {int(0.2 * (1 << 32))}
                ELSE {int(0.05 * (1 << 32))} END
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (curation.contamination_flags): docs
    sharing any word 8-gram with the 'benchmark' subset (doc_id%100==7)
    are flagged with their shared-gram count. Oracle: string 8-gram set
    intersection in DuckDB."""
    from validate_xml_rust_spark.operators.curation import contamination_flags

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 100 == 7)
    return contamination_flags(docs, bench, n=8)


ORACLE_DECONTAMINATE = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(coalesce(text,''))), '[^a-z0-9]+'),
                     x -> length(x) > 0) AS w
  FROM documents),
g AS (
  SELECT DISTINCT doc_id, gram FROM (
    SELECT doc_id, unnest(
      CASE WHEN len(w) = 0 THEN []
           WHEN len(w) >= 8 THEN
             list_transform(range(1, len(w) - 6), i -> array_to_string(w[i:i+7], ' '))
           ELSE [array_to_string(w, ' ')] END) AS gram
    FROM toks)),
bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 100 = 7),
hits AS (SELECT g.doc_id, count(*) AS n FROM g JOIN bench USING (gram) GROUP BY 1)
SELECT d.doc_id,
       CAST(coalesce(hits.n, 0) AS BIGINT) AS n_contaminated_ngrams,
       coalesce(hits.n, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits ON d.doc_id = hits.doc_id
"""


def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (curation.redact_pii): deterministic emails / IPs /
    phone numbers are appended to each document, then redacted with
    per-kind match counts. Oracle: the same Java∩RE2 patterns via DuckDB
    regexp_replace + regexp_extract_all, applied in the same order."""
    from validate_xml_rust_spark.operators.curation import redact_pii

    docs = _t(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.lit(" contact doc"), F.col("doc_id").cast("string"),
            F.lit("@example.com via 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".1 or 555-010-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    return redact_pii(injected).select(
        "doc_id", "n_email", "n_ip", "n_phone", "redacted"
    )


ORACLE_REDACT_PII = r"""
WITH inj AS (
  SELECT doc_id,
         coalesce(text,'') || ' contact doc' || CAST(doc_id AS VARCHAR) ||
         '@example.com via 10.0.' || CAST(doc_id % 256 AS VARCHAR) ||
         '.1 or 555-010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
  FROM documents),
s1 AS (
  SELECT doc_id, t,
         CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
         regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS r1
  FROM inj),
s2 AS (
  SELECT doc_id, n_email,
         CAST(len(regexp_extract_all(r1, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS INT) AS n_ip,
         regexp_replace(r1, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g') AS r2
  FROM s1),
s3 AS (
  SELECT doc_id, n_email, n_ip,
         CAST(len(regexp_extract_all(r2, '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b')) AS INT) AS n_phone,
         regexp_replace(r2, '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b', '<PHONE>', 'g') AS redacted
  FROM s2)
SELECT doc_id, n_email, n_ip, n_phone, redacted FROM s3
"""


def q_strip_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level line dedup, the C4/CCNet boilerplate rule
    (operators/curation.py `strip_boilerplate`): wrap every document in a
    per-source copyright header and a global contact footer, then strip
    every line whose trimmed form occurs in >10 distinct docs. Headers/
    footers vanish, each document's own text survives in original order.
    The oracle restates explode → distinct-doc count → NOT IN → ordered
    string_agg reassembly entirely in SQL."""
    from validate_xml_rust_spark.operators.curation import strip_boilerplate

    docs = _t(spark, sf_dir, "documents")
    t = F.concat(
        F.lit("(c) "), F.coalesce(F.col("source"), F.lit("?")),
        F.lit(" rights reserved\n"),
        F.coalesce(F.col("text"), F.lit("")),
        F.lit("\ncontact admin@example.com"),
    )
    d = docs.select("doc_id", t.alias("text"))
    return strip_boilerplate(d, max_doc_freq=10)


ORACLE_STRIP_BOILERPLATE = """
WITH d AS (
  SELECT doc_id,
         '(c) ' || coalesce(source, '?') || ' rights reserved' || chr(10) ||
         coalesce(text, '') || chr(10) || 'contact admin@example.com' AS t
  FROM documents),
l AS (
  SELECT doc_id,
         unnest(string_split(t, chr(10))) AS raw,
         unnest(generate_series(1, len(string_split(t, chr(10))))) AS idx
  FROM d),
lt AS (SELECT doc_id, idx, raw, trim(raw) AS line FROM l),
bp AS (
  SELECT line FROM lt WHERE line <> ''
  GROUP BY line HAVING count(DISTINCT doc_id) > 10),
sa AS (
  SELECT doc_id, string_agg(raw, chr(10) ORDER BY idx) AS clean_text
  FROM lt WHERE line NOT IN (SELECT line FROM bp)
  GROUP BY doc_id)
SELECT d.doc_id, coalesce(sa.clean_text, '') AS clean_text
FROM d LEFT JOIN sa USING (doc_id)
"""


def q_dedup_lines_within(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repeated-line removal
    (curation.dedup_lines_within_doc): every doc gets a promo line
    planted TWICE plus its own first line repeated at the end; the
    rebuilt text must keep each line's first occurrence (original
    bytes, original order, empty lines intact). The oracle restates
    first-occurrence-by-trimmed-form with window arithmetic."""
    from validate_xml_rust_spark.operators.curation import (
        dedup_lines_within_doc,
    )

    docs = _t(spark, sf_dir, "documents")
    t = F.concat(
        F.lit("PROMO visit example.com\n"),
        F.coalesce(F.col("text"), F.lit("")),
        F.lit("\n  PROMO visit example.com  \n\n"),
        F.coalesce(F.col("text"), F.lit("")),
    )
    return dedup_lines_within_doc(
        docs.select("doc_id", t.alias("text"))
    ).select("doc_id", "clean_text")


ORACLE_DEDUP_LINES_WITHIN = """
WITH d AS (
  SELECT doc_id,
         'PROMO visit example.com' || chr(10) || coalesce(text, '')
         || chr(10) || '  PROMO visit example.com  ' || chr(10)
         || chr(10) || coalesce(text, '') AS t
  FROM documents),
l AS (
  SELECT doc_id,
         unnest(string_split(t, chr(10))) AS raw,
         unnest(generate_series(1, len(string_split(t, chr(10))))) AS idx
  FROM d),
lt AS (
  SELECT doc_id, idx, raw, trim(raw) AS line,
         min(idx) OVER (PARTITION BY doc_id, trim(raw)) AS first_idx
  FROM l)
SELECT doc_id,
       string_agg(raw, chr(10) ORDER BY idx) AS clean_text
FROM lt
WHERE line = '' OR idx = first_idx
GROUP BY doc_id
"""


def q_strip_boilerplate_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both line-dedup granularities, one gate: corpus-level boilerplate
    voting and the page-local within-document rule. (PII redaction has
    its own registry gate, q:redact_pii — curation.redact_pii.)"""
    a = q_strip_boilerplate(spark, sf_dir).withColumn(
        "variant", F.lit("corpus")
    )
    b = q_dedup_lines_within(spark, sf_dir).withColumn(
        "variant", F.lit("within_doc")
    )
    return a.unionByName(b)


ORACLE_STRIP_BOILERPLATE_SUITE = f"""
SELECT 'corpus' AS variant, t.* FROM (
{ORACLE_STRIP_BOILERPLATE}
) t
UNION ALL
SELECT 'within_doc' AS variant, t.* FROM (
{ORACLE_DEDUP_LINES_WITHIN}
) t
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing (curation.pack_sequences): docs fill a
    2000-char budget per pack, in id order within each of 4 logical
    partitions. The running-budget-with-reset fold is not a window
    function — Spark runs it as grouped-map applyInPandas; the oracle
    re-derives the identical packing with a RECURSIVE CTE in DuckDB."""
    from validate_xml_rust_spark.operators.curation import pack_sequences

    docs = _t(spark, sf_dir, "documents").withColumn(
        "partition_id", (F.col("doc_id") % 4).cast("int")
    )
    return pack_sequences(
        docs, max_tokens=2000, tokens_col="n_chars"
    )


ORACLE_PACK_SEQUENCES = """
WITH RECURSIVE o AS (
  SELECT CAST(doc_id % 4 AS INT) AS pid, doc_id,
         CAST(coalesce(n_chars, 0) AS INT) AS tok,
         row_number() OVER (PARTITION BY doc_id % 4 ORDER BY doc_id) AS rn
  FROM documents),
r AS (
  SELECT pid, rn, doc_id, tok, CAST(0 AS BIGINT) AS seq, tok AS budget
  FROM o WHERE rn = 1
  UNION ALL
  SELECT o.pid, o.rn, o.doc_id, o.tok,
         CASE WHEN r.budget + o.tok > 2000 THEN r.seq + 1 ELSE r.seq END,
         CASE WHEN r.budget + o.tok > 2000 THEN o.tok ELSE r.budget + o.tok END
  FROM r JOIN o ON o.pid = r.pid AND o.rn = r.rn + 1)
SELECT doc_id, pid AS partition_id,
       CAST(pid AS BIGINT) * 4294967296 + seq AS pack_id,
       tok AS n_tokens
FROM r
"""


def q_pack_sequences_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-real packing: the same greedy fold, budgeted in BPE subword
    tokens of the committed vocabulary (functions/bpe.py) over the
    fixture corpus — a 400-token pack budget measured the way a trainer
    measures it. The oracle re-derives per-doc token counts by summing
    the committed word→n_sub table and replays the identical RECURSIVE
    packing fold."""
    from validate_xml_rust_spark.functions.bpe import bpe_token_count, default_bpe
    from validate_xml_rust_spark.operators.curation import pack_sequences
    from validate_xml_rust_spark.sources.corpus import synthetic_documents

    docs = synthetic_documents(spark, 600, n_partitions=8).withColumn(
        "partition_id", (F.col("doc_id") % 4).cast("int")
    ).withColumn(
        "n_tokens", bpe_token_count(F.col("text"), default_bpe(spark))
    )
    return pack_sequences(docs, max_tokens=400)


ORACLE_PACK_SEQUENCES_BPE = rf"""
WITH RECURSIVE toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(coalesce(text,''))), '[^a-z0-9]+'),
                     x -> length(x) > 0) AS w
  FROM '{_FIXTURES / "synthetic_docs_600.parquet"}'),
tw AS (
  SELECT doc_id, w[i] AS word
  FROM toks, unnest(range(1, len(w) + 1)) AS t(i)),
cnt AS (
  SELECT tw.doc_id, CAST(sum(b.n_sub) AS INT) AS tok
  FROM tw JOIN '{_FIXTURES / "bpe_words_600.parquet"}' b USING (word)
  GROUP BY 1),
o AS (
  SELECT CAST(doc_id % 4 AS INT) AS pid, doc_id, tok,
         row_number() OVER (PARTITION BY doc_id % 4 ORDER BY doc_id) AS rn
  FROM cnt),
r AS (
  SELECT pid, rn, doc_id, tok, CAST(0 AS BIGINT) AS seq, tok AS budget
  FROM o WHERE rn = 1
  UNION ALL
  SELECT o.pid, o.rn, o.doc_id, o.tok,
         CASE WHEN r.budget + o.tok > 400 THEN r.seq + 1 ELSE r.seq END,
         CASE WHEN r.budget + o.tok > 400 THEN o.tok ELSE r.budget + o.tok END
  FROM r JOIN o ON o.pid = r.pid AND o.rn = r.rn + 1)
SELECT doc_id, pid AS partition_id,
       CAST(pid AS BIGINT) * 4294967296 + seq AS pack_id,
       tok AS n_tokens
FROM r
"""


_SHARD_BUDGET = 10_000  # chars-as-tokens per training shard in the gate


def q_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budgeted training-shard manifest (outputs.shard_assignments
    + shard_manifest — the write-side sink's arithmetic, gated without
    the filesystem): n_shards = ceil(Σ n_chars / budget); each doc lands
    in floor(md5-ticket · n / 2³²); the manifest re-aggregates doc/token
    counts, the fill ratio, and the order-independent md5-32 content
    checksum. The oracle re-derives the ticket nibble-by-nibble and the
    integer-exact shard count."""
    from validate_xml_rust_spark.operators.outputs import (
        shard_assignments,
        shard_manifest,
    )

    docs = _t(spark, sf_dir, "documents")
    sharded, _n = shard_assignments(
        docs, tokens_per_shard=_SHARD_BUDGET, tokens_col="n_chars"
    )
    m = shard_manifest(sharded, _SHARD_BUDGET, tokens_col="n_chars")
    # suite-compat: the pack variants carry int32 n_tokens; per-shard
    # char sums are bounded by ~2·budget at any sf, so int is exact
    return m.withColumn("n_tokens", F.col("n_tokens").cast("int"))


ORACLE_TRAINING_SHARDS = f"""
WITH base AS (
  SELECT doc_id, text, CAST(coalesce(n_chars, 0) AS BIGINT) AS tok
  FROM documents),
n AS (SELECT (sum(tok) + {_SHARD_BUDGET - 1}) // {_SHARD_BUDGET} AS n_shards
      FROM base),
assigned AS (
  -- NULL-id rows draw a NULL ticket -> shard 0 (the Spark coalesce)
  SELECT doc_id, text, tok,
         CAST(floor(coalesce(
              {_oracle_mix_ticket("CAST(doc_id AS VARCHAR)", "shards")}, 0)
              * (SELECT n_shards FROM n) / 4294967296.0) AS BIGINT) AS shard_id
  FROM base)
SELECT shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(tok) AS INT) AS n_tokens,
       round(sum(tok) / {float(_SHARD_BUDGET)}, 6) AS fill_ratio,
       CAST(sum({_oracle_mix_ticket(
           "coalesce(CAST(doc_id AS VARCHAR), '') || ':' || "
           "coalesce(text, '')",
           "shardsum")}) AS BIGINT) AS content_sum
FROM assigned
GROUP BY shard_id
"""


def q_pack_sequences_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trainer-facing budget arithmetic, one gate: greedy packing in
    characters-as-tokens (sf documents) and BPE subwords (fixture
    corpus), plus the training-shard manifest (deterministic shard
    assignment + order-independent checksums)."""
    a = q_pack_sequences(spark, sf_dir).withColumn("variant", F.lit("chars"))
    b = q_pack_sequences_bpe(spark, sf_dir).withColumn("variant", F.lit("bpe"))
    c = q_training_shards(spark, sf_dir).withColumn("variant", F.lit("shards"))
    return a.unionByName(b).unionByName(c, allowMissingColumns=True)


_PACK_NULLS = (
    "CAST(NULL AS BIGINT) AS shard_id, CAST(NULL AS BIGINT) AS n_docs, "
    "CAST(NULL AS DOUBLE) AS fill_ratio, CAST(NULL AS BIGINT) AS content_sum"
)

# (_wrap_variant is defined further down the module — inline form here)
ORACLE_PACK_SEQUENCES_SUITE = f"""
SELECT 'chars' AS variant, t.*, {_PACK_NULLS} FROM (
{ORACLE_PACK_SEQUENCES}
) t
UNION ALL
SELECT 'bpe' AS variant, t.*, {_PACK_NULLS} FROM (
{ORACLE_PACK_SEQUENCES_BPE}
) t
UNION ALL
SELECT 'shards' AS variant, CAST(NULL AS BIGINT) AS doc_id,
       CAST(NULL AS INT) AS partition_id, CAST(NULL AS BIGINT) AS pack_id,
       t.n_tokens, t.shard_id, t.n_docs, t.fill_ratio, t.content_sum FROM (
{ORACLE_TRAINING_SHARDS}
) t
"""


def q_curate_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation pipeline lineage (pipeline.curate): a fixed
    SQL-restatable config — exact dedup → benchmark decontamination →
    repetition filter → deterministic 25% sample — over the planted
    corpus, emitting the per-step (rows_in, rows_out, dropped) report.
    The oracle re-derives every step count through a DuckDB CTE chain
    over the committed snapshot of the same rows, so the gate covers the
    builder-composed glue (step ordering, id carrying between steps),
    not just the per-operator semantics the other gates already pin."""
    from validate_xml_rust_spark.pipeline import curate
    from validate_xml_rust_spark.sources.corpus import synthetic_documents

    docs = synthetic_documents(spark, 600, n_partitions=8)
    bench = docs.filter(F.col("doc_id") % 50 == 7).select("text")
    res = curate(
        docs, spark, benchmark=bench, near_dup_threshold=None,
        max_repetition=0.2, sample_rate=0.25,
    )
    steps = res.report["steps"]
    res.release()
    return local_frame(
        spark, "step string, rows_in long, rows_out long, dropped long",
        {k: [s[k] for s in steps] for k in ("step", "rows_in", "rows_out", "dropped")},
    )


_CURATE_W = (
    "list_filter(regexp_split_to_array(lower(trim(coalesce(text,''))), "
    "'[^a-z0-9]+'), x -> length(x) > 0)"
)
_CURATE_GRAMS8 = (
    "CASE WHEN len(w) = 0 THEN [] WHEN len(w) >= 8 THEN "
    "list_transform(range(1, len(w) - 6), i -> array_to_string(w[i:i+7], ' ')) "
    "ELSE [array_to_string(w, ' ')] END"
)

ORACLE_CURATE_LINEAGE = rf"""
WITH d0 AS (SELECT doc_id, text FROM '{_FIXTURES / "synthetic_docs_600.parquet"}'),
fp AS (SELECT doc_id, text,
              md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS f
       FROM d0),
d1 AS (SELECT doc_id, text FROM (
         SELECT doc_id, text, f, min(doc_id) OVER (PARTITION BY f) AS kid FROM fp)
       -- f IS NULL: NULL-text rows all survive exact dedup (engine rule);
       -- kid IS NULL: a content group with NO identified row keeps its
       -- NULL-id rows (r5 exact_dedup rule — min ignores NULLs both engines)
       WHERE doc_id = kid OR f IS NULL
          OR (doc_id IS NULL AND kid IS NULL)),
toks1 AS (SELECT doc_id, {_CURATE_W} AS w FROM d1),
g1 AS (SELECT DISTINCT doc_id, gram FROM (
         SELECT doc_id, unnest({_CURATE_GRAMS8}) AS gram FROM toks1)),
btoks AS (SELECT doc_id, {_CURATE_W} AS w FROM d0 WHERE doc_id % 50 = 7),
bg AS (SELECT DISTINCT gram FROM (
         SELECT unnest({_CURATE_GRAMS8}) AS gram FROM btoks)),
dirty AS (SELECT DISTINCT g1.doc_id FROM g1 JOIN bg USING (gram)),
d2 AS (SELECT d1.doc_id, d1.text FROM d1
       WHERE NOT EXISTS (SELECT 1 FROM dirty WHERE dirty.doc_id = d1.doc_id)),
rtoks AS (SELECT doc_id, {_CURATE_W} AS w FROM d2),
rb AS (SELECT doc_id, w,
              CASE WHEN len(w) = 0 THEN []
                   WHEN len(w) >= 2 THEN
                     list_transform(range(1, len(w)), i -> array_to_string(w[i:i+1], ' '))
                   ELSE [array_to_string(w, ' ')] END AS bgm
       FROM rtoks),
rr AS (SELECT doc_id,
              CASE WHEN len(w) = 0 THEN 0.0
                   ELSE round(1 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 6) END AS unigram_rep,
              CASE WHEN len(bgm) = 0 THEN 0.0
                   ELSE round(1 - CAST(len(list_distinct(bgm)) AS DOUBLE) / len(bgm), 6) END AS bigram_rep
       FROM rb),
d3 AS (SELECT d2.doc_id FROM d2 JOIN rr USING (doc_id)
       WHERE NOT (unigram_rep > 0.2 OR bigram_rep > 0.2)),
d4 AS (SELECT doc_id FROM d3 WHERE {_ORACLE_TICKET} < {int(0.25 * (1 << 32))})
SELECT step, CAST(rows_in AS BIGINT) AS rows_in,
       CAST(rows_out AS BIGINT) AS rows_out,
       CAST(rows_in - rows_out AS BIGINT) AS dropped
FROM (
  SELECT 'exact_dedup' AS step,
         (SELECT count(*) FROM d0) AS rows_in, (SELECT count(*) FROM d1) AS rows_out
  UNION ALL SELECT 'decontaminate',
         (SELECT count(*) FROM d1), (SELECT count(*) FROM d2)
  UNION ALL SELECT 'repetition_filter',
         (SELECT count(*) FROM d2), (SELECT count(*) FROM d3)
  UNION ALL SELECT 'sample',
         (SELECT count(*) FROM d3), (SELECT count(*) FROM d4)
)
"""


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing through the gate: documents wrapped as binary
    media payloads, featurized via the mapInPandas batch path
    (operators/multimodal.py — Arrow batches in/out, deterministic
    sha256-derived fake features standing in for the stubbed decoder).
    The oracle recomputes byte length and two feature coordinates from
    sha256 hex entirely in SQL (nibble lookup), so the batch-UDF schema,
    iteration, and featurizer math are all cross-engine checked."""
    from validate_xml_rust_spark.operators.multimodal import extract_features

    docs = _t(spark, sf_dir, "documents")
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    payload = F.encode(
        F.concat(
            F.lit("MEDIA:"), F.col("doc_id").cast("string"), F.lit(":"),
            F.coalesce(F.col("text"), F.lit("")),
        ),
        "UTF-8",
    )
    media = docs.select(
        F.col("doc_id").alias("id"), kind.alias("kind"), payload.alias("payload")
    )
    feats = extract_features(media, fake_decoder=True)
    return feats.select(
        "id",
        "kind",
        "payload_bytes",
        F.round(F.element_at("features", 1), 6).alias("f0"),
        F.round(F.element_at("features", 16), 6).alias("f15"),
    )


_NIBBLE = "strpos('0123456789abcdef', substr(hx, {pos}, 1)) - 1"
ORACLE_MULTIMODAL_FEATURES = f"""
WITH m AS (
  SELECT doc_id AS id,
         CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
              WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         'MEDIA:' || CAST(doc_id AS VARCHAR) || ':' || coalesce(text, '') AS s
  FROM documents),
h AS (SELECT id, kind, CAST(octet_length(encode(s)) AS BIGINT) AS payload_bytes,
             sha256(s) AS hx FROM m)
SELECT id, kind, payload_bytes,
       round((({_NIBBLE.format(pos=1)}) * 16 + ({_NIBBLE.format(pos=2)})) / 256.0, 6) AS f0,
       round((({_NIBBLE.format(pos=31)}) * 16 + ({_NIBBLE.format(pos=32)})) / 256.0, 6) AS f15
FROM h
"""


def _replayed_stream(spark: SparkSession, sf_dir: str, table: str):
    """File-source stream over one driver parquet table. The file-stream
    source lists a DIRECTORY (CLAUDE.md gotcha), so the single parquet
    file is exposed through a /tmp symlink dir — no data copied, testdata
    untouched. Returns the readStream DataFrame (schema from the batch
    read, since streams cannot infer)."""
    import hashlib
    import os

    batch = _t(spark, sf_dir, table)
    src = os.path.abspath(f"{sf_dir}/{table}.parquet")
    d = f"/tmp/vxrs_stream_{table}_" + hashlib.md5(src.encode()).hexdigest()[:10]
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, f"{table}.parquet")
    if not os.path.lexists(link):
        os.symlink(src, link)
    return spark.readStream.schema(batch.schema).parquet(d)


def _run_to_memory(stream, prefix: str) -> str:
    """Run a streaming aggregation to completion (AvailableNow) into a
    complete-mode memory sink; returns the sink table name. State-store
    shard count pinned low for the replay drain (the stateful.py
    run_available_now rationale: per-trigger state commits scale with the
    shuffle-partition count, results are partition-invariant; the env
    knob raises it for real deployments)."""
    import os
    import uuid

    spark = stream.sparkSession
    parts = os.environ.get("VXRS_STREAM_STATE_PARTITIONS", "8")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", parts)
    try:
        name = prefix + uuid.uuid4().hex[:8]
        q = (
            stream.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return name


def q_streaming_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous drift monitoring on a stream (§2.7 × drift): documents
    replayed as an AvailableNow file-source stream, (partition, lang)
    counts aggregated in complete mode into a memory sink, then the
    zero-Python PSI core (`psi_from_counts`) over the accumulated counts
    — the EXACT batch statistic from the SAME oracle as drift_psi_lang.
    This is the production shape for per-ingest drift gating: the stream
    maintains O(P·K) count state, the closed-form statistic reads it."""
    from validate_xml_rust_spark.operators.drift import (
        categorical_baseline,
        psi_from_counts,
    )

    stream = (
        _replayed_stream(spark, sf_dir, "documents")
        .filter(F.col("lang").isNotNull())
        .groupBy(
            (F.col("doc_id") % 8).cast("int").alias("__pid"),
            F.col("lang").alias("__cat"),
        )
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    name = _run_to_memory(stream, "q_stream_psi_")
    baseline = categorical_baseline(_t(spark, sf_dir, "documents"), "lang")
    out = psi_from_counts(spark.table(name), "lang", baseline)
    return out.select("partition_id", "column_name", "test", "statistic", "n")


def q_streaming_drift_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous VOCABULARY monitoring on a stream: the same replayed
    file-source stream, but each record fans out to its word tokens and
    their md5 buckets (drift.vocab_bucket_counts — a narrow projection,
    stream-safe), counts accumulate in complete mode (O(P·256) state),
    and the zero-Python JS core reads them. Stream counts equal batch
    counts, so the oracle IS the batch vocab-drift restatement."""
    from validate_xml_rust_spark.operators.drift import (
        categorical_baseline,
        psi_from_counts,
        vocab_bucket_counts,
    )

    stream = (
        vocab_bucket_counts(
            _replayed_stream(spark, sf_dir, "documents").withColumn(
                "partition_id", (F.col("doc_id") % 8).cast("int")
            )
        )
        .groupBy(
            F.col("partition_id").cast("int").alias("__pid"),
            F.col("vocab").alias("__cat"),
        )
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    name = _run_to_memory(stream, "q_stream_vocab_")
    baseline = categorical_baseline(
        vocab_bucket_counts(_t(spark, sf_dir, "documents"), partition_col=None),
        "vocab",
    )
    out = psi_from_counts(
        spark.table(name), "vocab", baseline, stat="js", threshold=0.1
    )
    return out.select("partition_id", "column_name", "test", "statistic", "n")


def q_streaming_drift_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both streaming drift monitors, one gate: categorical PSI (lang)
    and token-level vocabulary JS — complete-mode count state feeding
    the closed-form statistics, equal to their batch twins."""
    a = q_streaming_drift_psi(spark, sf_dir).withColumn(
        "variant", F.lit("psi_lang")
    )
    b = q_streaming_drift_vocab(spark, sf_dir).withColumn(
        "variant", F.lit("js_vocab")
    )
    return a.unionByName(b)


ORACLE_STREAMING_DRIFT_SUITE = f"""
SELECT 'psi_lang' AS variant, t.* FROM (
{ORACLE_DRIFT_PSI_LANG}
) t
UNION ALL
SELECT 'js_vocab' AS variant, t.* FROM (
{ORACLE_DRIFT_VOCAB}
) t
"""


def q_streaming_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming replay equals batch SQL: the events table read
    as an AvailableNow file-source stream, tumbling 1-hour event-time
    windows aggregated into a memory sink — the SAME oracle as the batch
    events_hourly query. Proves the streaming engine extension (§2.7)
    computes identical verdict-style aggregates to the batch path."""
    stream = (
        _replayed_stream(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )
    name = _run_to_memory(stream, "q_stream_hourly_")
    return spark.table(name).select(
        F.col("w.start").alias("hour"), "event_type", "n", "sum_value"
    )


# ---------------------------------------------------------------------------
# Consolidated gate suites. The driver's CORRECTNESS window records at most
# 50 queries per round (VERDICT r3 "Next round #1"), so related gates that
# share an output schema (or a join key) are registered as ONE suite entry:
# every underlying operator still runs and is still cross-engine verified —
# a `variant` label (or the join) keeps the sub-results distinguishable in
# the hashed output. The fine-grained q_* functions above remain for tests
# and ad-hoc use.
# ---------------------------------------------------------------------------


def _wrap_variant(label: str, sql: str) -> str:
    """Wrap a full oracle statement (WITH/ORDER/LIMIT allowed) as a
    variant-labeled subquery."""
    return f"SELECT '{label}' AS variant, t.* FROM (\n{sql}\n) t"


ORACLE_URL_POLICY_SUITE = (
    _wrap_variant("canon", ORACLE_URL_CANONICAL_DUPS)
    + "\nUNION ALL\n"
    + _wrap_variant(
        "blocked_host",
        _oracle_url_blocked(
            "h IN ('h2.example.com', 'h4.example.com') "
            "OR h LIKE '%.h2.example.com' OR h LIKE '%.h4.example.com'"
        ),
    )
    + "\nUNION ALL\n"
    + _wrap_variant(
        "blocked_suffix",
        _oracle_url_blocked("h = 'example.com' OR h LIKE '%.example.com'"),
    )
    + "\nUNION ALL\n"
    + _wrap_variant(
        "robots",
        _oracle_url_policy_composed(
            "h = 'h2.example.com' OR h LIKE '%.h2.example.com'",
            "h IN ('h2.example.com', 'h5.example.com', 'h6.example.com') "
            "OR h LIKE '%.h2.example.com' OR h LIKE '%.h5.example.com' "
            "OR h LIKE '%.h6.example.com'",
        ),
    )
    + "\nUNION ALL\n"
    + _wrap_variant("license", _ORACLE_LICENSE_SIGNALS)
)


def q_duplicate_custkeys_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted uniqueness, plain + Bloom-pre-pass paths (A10). Both variants
    must produce the IDENTICAL duplicate set — the oracle is the same
    GROUP BY twice, proving the Bloom superset never drops a real dup."""
    a = q_duplicate_custkeys(spark, sf_dir).withColumn("variant", F.lit("plain"))
    b = q_duplicate_custkeys_bloom(spark, sf_dir).withColumn("variant", F.lit("bloom"))
    return a.unionByName(b)


ORACLE_DUPLICATE_CUSTKEYS_SUITE = (
    _wrap_variant("plain", ORACLE_DUPLICATE_CUSTKEYS)
    + "\nUNION ALL\n"
    + _wrap_variant("bloom", ORACLE_DUPLICATE_CUSTKEYS)
)


def q_events_hourly_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-hour aggregation, batch + AvailableNow-stream replay (§2.7):
    both variants against the same SQL — stream == batch, cross-engine."""
    a = q_events_hourly(spark, sf_dir).withColumn("variant", F.lit("batch"))
    b = q_streaming_events_hourly(spark, sf_dir).withColumn("variant", F.lit("stream"))
    return a.unionByName(b)


ORACLE_EVENTS_HOURLY_SUITE = (
    _wrap_variant("batch", ORACLE_EVENTS_HOURLY)
    + "\nUNION ALL\n"
    + _wrap_variant("stream", ORACLE_EVENTS_HOURLY)
)


def q_profile_histograms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profiler histogram family (A9): frequent-items top-k (salted
    two-phase count + deterministic tie-break) and the fixed-width length
    histogram, harmonized to one (variant, column_name, bucket, lo, hi,
    n, rank) schema."""
    freq = q_frequent_values(spark, sf_dir).select(
        F.lit("frequent").alias("variant"),
        "column_name",
        F.col("value").alias("bucket"),
        F.lit(None).cast("long").alias("lo"),
        F.lit(None).cast("long").alias("hi"),
        F.col("n").cast("long").alias("n"),
        F.col("rank").cast("long").alias("rank"),
    )
    hist = q_length_histogram(spark, sf_dir).select(
        F.lit("length_hist").alias("variant"),
        F.lit("text").alias("column_name"),
        F.col("bucket").cast("string").alias("bucket"),
        F.col("bucket_lo").cast("long").alias("lo"),
        F.col("bucket_hi").cast("long").alias("hi"),
        F.col("n").cast("long").alias("n"),
        F.lit(None).cast("long").alias("rank"),
    )
    return freq.unionByName(hist)


ORACLE_PROFILE_HISTOGRAMS = f"""
SELECT 'frequent' AS variant, column_name, value AS bucket,
       CAST(NULL AS BIGINT) AS lo, CAST(NULL AS BIGINT) AS hi,
       CAST(n AS BIGINT) AS n, CAST(rank AS BIGINT) AS rank
FROM ({ORACLE_FREQUENT_VALUES}) f
UNION ALL
SELECT 'length_hist', 'text', CAST(bucket AS VARCHAR),
       CAST(bucket_lo AS BIGINT), CAST(bucket_hi AS BIGINT),
       CAST(n AS BIGINT), CAST(NULL AS BIGINT)
FROM ({ORACLE_LENGTH_HISTOGRAM}) h
"""


def q_excise_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplicated-passage removal
    (dedup.excise_shared_passages, the Lee et al. 2021 ExactSubstr recipe
    on Spark) over the planted-shared-passage corpus: 12-token passages
    shared across docs must be excised from every non-min keeper — single
    spans, ADJACENT spans merging to one, and end-of-document spans. Runs
    the real operator WITH the winnowing prefilter; the oracle re-derives
    gram marking → keeper choice → interval merge → text rebuild from
    scratch (no prefilter), so gate equality also proves the prefilter
    lossless."""
    from validate_xml_rust_spark.ckpt import eager_checkpoint, release_blocks
    from validate_xml_rust_spark.operators.dedup import excise_shared_passages
    from validate_xml_rust_spark.sources.corpus import passage_corpus

    docs = passage_corpus(spark, 400, n_partitions=8)
    st: dict = {}
    # materialize the (tiny, 400-row) result once, then free the
    # excision's internal gram-start checkpoint (same pattern as
    # q_near_dedup_components) — also lets the fingerprint suite's two
    # variants scan blocks instead of running the excision plan twice
    out, _ = eager_checkpoint(excise_shared_passages(docs, min_run=8, stats=st))
    release_blocks(spark.sparkContext, st.get("ckpt_block_ids", frozenset()))
    return out


ORACLE_EXCISE_PASSAGES = rf"""
WITH toks AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(lower(trim(coalesce(text,''))), '[^a-z0-9]+'),
                     x -> length(x) > 0) AS w
  FROM '{_FIXTURES / "passage_docs_400.parquet"}'),
g AS (
  SELECT doc_id, i - 1 AS pos, array_to_string(w[i:i+7], ' ') AS gram
  FROM toks, unnest(range(1, len(w) - 6)) AS t(i)
  WHERE len(w) >= 8),
keep AS (
  SELECT gram, min(doc_id) AS keep_id, count(DISTINCT doc_id) AS nd
  FROM g GROUP BY gram),
exc AS (
  SELECT g.doc_id, g.pos FROM g JOIN keep USING (gram)
  WHERE keep.nd > 1 AND g.doc_id > keep.keep_id),
cov AS (
  SELECT DISTINCT doc_id, pos + o AS cp
  FROM exc, unnest(range(0, 8)) AS t(o)),
spanstats AS (
  SELECT c.doc_id,
         count(*) AS n_removed,
         sum(CASE WHEN p.cp IS NULL THEN 1 ELSE 0 END) AS n_spans
  FROM cov c
  LEFT JOIN cov p ON p.doc_id = c.doc_id AND p.cp = c.cp - 1
  GROUP BY c.doc_id),
tokpos AS (
  SELECT doc_id, i - 1 AS pos, w[i] AS tok
  FROM toks, unnest(range(1, len(w) + 1)) AS t(i)),
rebuilt AS (
  SELECT tp.doc_id,
         coalesce(string_agg(tp.tok, ' ' ORDER BY tp.pos), '') AS clean
  FROM tokpos tp
  LEFT JOIN cov ON cov.doc_id = tp.doc_id AND cov.cp = tp.pos
  WHERE cov.cp IS NULL
  GROUP BY tp.doc_id)
SELECT t.doc_id,
       -- untouched docs (no covered position) pass through byte-identical,
       -- so their fp hashes the ORIGINAL text, not the token rejoin
       md5(CASE WHEN s.doc_id IS NULL THEN coalesce(t.text, '')
                ELSE coalesce(r.clean, '') END) AS fp,
       CAST(coalesce(s.n_removed, 0) AS BIGINT) AS n_removed,
       CAST(coalesce(s.n_spans, 0) AS BIGINT) AS n_spans
FROM toks t
LEFT JOIN rebuilt r USING (doc_id)
LEFT JOIN spanstats s USING (doc_id)
"""


def q_fingerprint_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical content fingerprints (F5) + substring excision + soft
    dedup: the per-doc md5 fingerprint over the sf documents table, the
    exact-dup groups over the planted corpus, the passage-excision
    output (fp = md5 of the surviving text; n_dup = tokens removed,
    plus an excise_spans variant carrying the merged-span count), and
    per-doc soft-dedup weights (n_dup = group size, w = 1/n),
    harmonized to (variant, doc_id, fp, n_dup, w)."""
    null_w = F.lit(None).cast("double").alias("w")
    fp = q_doc_fingerprints(spark, sf_dir).select(
        F.lit("doc_fp").alias("variant"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("fp_md5").alias("fp"),
        F.lit(None).cast("long").alias("n_dup"),
        null_w,
    )
    grp = q_exact_dup_groups(spark, sf_dir).select(
        F.lit("dup_group").alias("variant"),
        F.col("keep_id").cast("long").alias("doc_id"),
        F.col("fingerprint").alias("fp"),
        F.col("n_dup").cast("long").alias("n_dup"),
        null_w,
    )
    exc = q_excise_passages(spark, sf_dir)
    exc_text = exc.select(
        F.lit("excise").alias("variant"),
        F.col("doc_id").cast("long").alias("doc_id"),
        # coalesce: untouched docs carry their ORIGINAL text (NULL text
        # stays NULL) — hash the empty string for those, like the oracle
        F.md5(F.coalesce(F.col("clean_text"), F.lit(""))).alias("fp"),
        F.col("n_tokens_removed").cast("long").alias("n_dup"),
        null_w,
    )
    exc_spans = exc.filter(F.col("n_spans") > 0).select(
        F.lit("excise_spans").alias("variant"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.lit(None).cast("string").alias("fp"),
        F.col("n_spans").cast("long").alias("n_dup"),
        null_w,
    )
    soft = q_dedup_weights(spark, sf_dir).select(
        F.lit("soft_weight").alias("variant"),
        F.col("doc_id").cast("long").alias("doc_id"),
        "fp",
        F.col("n_copies").alias("n_dup"),
        F.col("weight").alias("w"),
    )
    return (
        fp.unionByName(grp).unionByName(exc_text).unionByName(exc_spans)
        .unionByName(soft)
    )


def q_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup (dedup.dedup_weights): per-doc exact-content group
    size and 1/n loss weight — the downweight-don't-drop alternative to
    exact_dedup. The oracle recomputes the md5 groups and weights."""
    from validate_xml_rust_spark.operators.dedup import dedup_weights

    docs = _t(spark, sf_dir, "documents")
    return dedup_weights(docs)


ORACLE_DEDUP_WEIGHTS = r"""
WITH f AS (
  SELECT doc_id, md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
  FROM documents),
c AS (SELECT fp, count(*) AS n FROM f WHERE fp IS NOT NULL GROUP BY fp)
SELECT f.doc_id, f.fp,
       CAST(coalesce(c.n, 1) AS BIGINT) AS n_copies,
       round(1.0 / coalesce(c.n, 1), 6) AS weight
FROM f LEFT JOIN c USING (fp)
"""


ORACLE_FINGERPRINT_SUITE = f"""
SELECT 'doc_fp' AS variant, CAST(doc_id AS BIGINT) AS doc_id, fp_md5 AS fp,
       CAST(NULL AS BIGINT) AS n_dup, CAST(NULL AS DOUBLE) AS w
FROM ({ORACLE_DOC_FINGERPRINTS}) f
UNION ALL
SELECT 'dup_group', CAST(keep_id AS BIGINT), fingerprint, CAST(n_dup AS BIGINT),
       CAST(NULL AS DOUBLE)
FROM ({ORACLE_EXACT_DUP_GROUPS}) g
UNION ALL
SELECT 'excise', CAST(doc_id AS BIGINT), fp, n_removed, CAST(NULL AS DOUBLE)
FROM ({ORACLE_EXCISE_PASSAGES}) e
UNION ALL
SELECT 'excise_spans', CAST(doc_id AS BIGINT), CAST(NULL AS VARCHAR), n_spans,
       CAST(NULL AS DOUBLE)
FROM ({ORACLE_EXCISE_PASSAGES}) e2 WHERE n_spans > 0
UNION ALL
SELECT 'soft_weight', CAST(doc_id AS BIGINT), fp, n_copies,
       CAST(weight AS DOUBLE)
FROM ({ORACLE_DEDUP_WEIGHTS}) s
"""


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality score (textstats.lm_perplexity — Wenzek et
    al. 2019's perplexity bucketing with an add-α bigram LM): train on
    the lang='en' partition, score EVERY document. Lower log_ppl = more
    reference-like; non-English docs score high (the CCNet filtering
    signal). Each doc additionally gets its CCNet head/middle/tail
    bucket against its OWN language's exact log_ppl terciles
    (textstats.perplexity_buckets). The oracle retrains the same
    counts, restates the smoothed mean negative log-likelihood, and
    re-derives the per-language quantile_cont cuts + bucket labels from
    scratch in SQL."""
    from validate_xml_rust_spark.operators.textstats import perplexity_buckets

    docs = _t(spark, sf_dir, "documents")
    ref = docs.filter(F.col("lang") == "en").select("text")
    return perplexity_buckets(docs, ref, group_col="lang").select(
        "doc_id", "n_bigrams", "log_ppl", "ppl_bucket"
    )


ORACLE_LM_PERPLEXITY = """
WITH lmw AS (SELECT doc_id, lang,
        list_filter(regexp_split_to_array(lower(trim(coalesce(text,''))), '[^a-z0-9]+'),
                    x -> length(x) > 0) AS w FROM documents),
lmrb AS (SELECT w[i-1] || ' ' || w[i] AS bg, count(*) AS c2
       FROM lmw, unnest(range(2, len(w)+1)) AS t(i) WHERE lang = 'en' GROUP BY 1),
lmru AS (SELECT u.x AS w1, count(*) AS c1
       FROM lmw, unnest(w) AS u(x) WHERE lang = 'en' GROUP BY 1),
lmv AS (SELECT CAST(count(*) AS DOUBLE) AS V FROM lmru),
lmdb AS (SELECT doc_id, w[i-1] AS w1, w[i-1] || ' ' || w[i] AS bg
       FROM lmw, unnest(range(2, len(w)+1)) AS t(i)),
lmsc AS (SELECT lmdb.doc_id, count(*) AS n,
              round(-avg(ln((coalesce(lmrb.c2, 0) + 0.1)
                          / (coalesce(lmru.c1, 0) + 0.1 * lmv.V))), 6) AS log_ppl
       FROM lmdb LEFT JOIN lmrb USING (bg) LEFT JOIN lmru USING (w1), lmv
       GROUP BY lmdb.doc_id),
lmct AS (SELECT d.lang,
              round(quantile_cont(lmsc.log_ppl, 1.0/3.0), 6) AS t1,
              round(quantile_cont(lmsc.log_ppl, 2.0/3.0), 6) AS t2
       FROM documents d JOIN lmsc USING (doc_id)
       WHERE lmsc.log_ppl IS NOT NULL GROUP BY d.lang)
SELECT d.doc_id, CAST(coalesce(lmsc.n, 0) AS BIGINT) AS n_bigrams, lmsc.log_ppl,
       CASE WHEN lmsc.log_ppl IS NULL THEN NULL
            WHEN lmsc.log_ppl <= lmct.t1 THEN 'head'
            WHEN lmsc.log_ppl <= lmct.t2 THEN 'middle'
            ELSE 'tail' END AS ppl_bucket
FROM documents d LEFT JOIN lmsc USING (doc_id)
LEFT JOIN lmct ON lmct.lang = d.lang
"""


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality rule pack (operators/textstats.py gopher_rules —
    Rae et al. 2021 Appendix A1.1) over deterministically perturbed
    document text: each ``doc_id % 7`` class plants a different rule
    violation (all-bullet lines, ellipsis endings, symbol soup, numeric
    words, stop-word-rich prefix, pathological word length) so every
    rule's signal and the composite ``gopher_pass`` vary across the
    corpus. The oracle re-derives every signal from the same perturbed
    text with DuckDB list/regex functions."""
    from validate_xml_rust_spark.operators.textstats import gopher_rules

    docs = _t(spark, sf_dir, "documents")
    m = F.pmod(F.col("doc_id"), F.lit(7))
    t = F.coalesce(F.col("text"), F.lit(""))
    text2 = (
        F.when(
            m == 1,
            F.lit("- alpha beta\n- gamma delta\n- epsilon zeta\n- eta theta"),
        )
        .when(
            m == 2,
            F.concat(
                F.lit("first thing...\nsecond thing...\nthird thing…\n"), t
            ),
        )
        .when(m == 3, F.concat(t, F.lit(" "), F.repeat(F.lit("# "), 15)))
        .when(m == 4, F.repeat(F.lit("42 "), 60))
        .when(
            m == 5,
            F.concat(
                F.lit("the deal is that we have to be of and with it "), t
            ),
        )
        .when(m == 6, F.repeat(F.lit("supercalifragilisticexpialidocious "), 60))
        .otherwise(t)
    )
    return gopher_rules(
        docs.select("doc_id", text2.alias("text")), min_words=50
    ).select(
        "doc_id", "g_n_words", "g_mean_wl", "g_symbol_ratio",
        "g_bullet_frac", "g_ellipsis_frac", "g_alpha_frac", "g_stop_hits",
        "gopher_pass",
    )


# Lockstep with operators/textstats.py gopher_rules (RE2-safe regexes).
ORACLE_GOPHER_RULES = r"""
WITH gp AS (
  SELECT doc_id,
    CASE CAST(doc_id % 7 AS INT)
      WHEN 1 THEN '- alpha beta' || chr(10) || '- gamma delta' || chr(10)
                  || '- epsilon zeta' || chr(10) || '- eta theta'
      WHEN 2 THEN 'first thing...' || chr(10) || 'second thing...' || chr(10)
                  || 'third thing…' || chr(10) || coalesce(text, '')
      WHEN 3 THEN coalesce(text, '') || ' ' || repeat('# ', 15)
      WHEN 4 THEN repeat('42 ', 60)
      WHEN 5 THEN 'the deal is that we have to be of and with it '
                  || coalesce(text, '')
      WHEN 6 THEN repeat('supercalifragilisticexpialidocious ', 60)
      ELSE coalesce(text, '')
    END AS t
  FROM documents
), gw AS (
  SELECT doc_id, t,
    list_filter(regexp_split_to_array(trim(t), '\s+'),
                x -> length(x) > 0) AS words,
    regexp_split_to_array(t, '\n') AS ln,
    list_filter(regexp_split_to_array(lower(t), '[^a-z0-9]+'),
                x -> length(x) > 0) AS aw
  FROM gp
), gs AS (
  SELECT doc_id,
    CAST(len(words) AS BIGINT) AS g_n_words,
    ROUND(length(regexp_replace(t, '\s+', '', 'g'))
          / greatest(len(words), 1), 6) AS g_mean_wl,
    ROUND((len(regexp_extract_all(t, '#'))
           + len(regexp_extract_all(t, '\.\.\.'))
           + len(regexp_extract_all(t, '…')))
          / greatest(len(words), 1), 6) AS g_symbol_ratio,
    ROUND(len(list_filter(ln, x -> regexp_matches(x, '^[ \t]*[-*•]')))
          / greatest(len(ln), 1), 6) AS g_bullet_frac,
    ROUND(len(list_filter(ln, x -> regexp_matches(x, '(\.\.\.|…)[ \t]*$')))
          / greatest(len(ln), 1), 6) AS g_ellipsis_frac,
    ROUND(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))
          / greatest(len(words), 1), 6) AS g_alpha_frac,
    CAST(CAST(list_contains(aw, 'the') AS INT)
       + CAST(list_contains(aw, 'be') AS INT)
       + CAST(list_contains(aw, 'to') AS INT)
       + CAST(list_contains(aw, 'of') AS INT)
       + CAST(list_contains(aw, 'and') AS INT)
       + CAST(list_contains(aw, 'that') AS INT)
       + CAST(list_contains(aw, 'have') AS INT)
       + CAST(list_contains(aw, 'with') AS INT) AS BIGINT) AS g_stop_hits
  FROM gw
)
SELECT doc_id, g_n_words, g_mean_wl, g_symbol_ratio, g_bullet_frac,
       g_ellipsis_frac, g_alpha_frac, g_stop_hits,
       (g_n_words BETWEEN 50 AND 100000)
       AND (g_mean_wl BETWEEN 3.0 AND 10.0)
       AND g_symbol_ratio <= 0.1
       AND g_bullet_frac <= 0.9
       AND g_ellipsis_frac <= 0.3
       AND g_alpha_frac >= 0.8
       AND g_stop_hits >= 2 AS gopher_pass
FROM gs
"""


def q_c4_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleaning rule pack (textstats.c4_rules, Raffel et al. 2020):
    line-level terminal-punctuation / ≥5-word / javascript filters with
    rebuilt text, page-level lorem-ipsum / curly-brace / ≥3-kept-lines
    gate. The rebuilt text gates through the source_plumbing suite
    (payload variant); the signals here."""
    from validate_xml_rust_spark.operators.textstats import c4_rules

    docs = _t(spark, sf_dir, "documents")
    return c4_rules(docs).select(
        "doc_id", "c4_text", "c4_lines_total", "c4_lines_kept",
        "c4_has_lorem", "c4_has_brace", "c4_pass",
    )


ORACLE_C4_RULES = r"""
WITH l AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(coalesce(text,''), '\n'),
                     x -> x <> '') AS lns,
         lower(coalesce(text,'')) AS lt, coalesce(text,'') AS t
  FROM documents),
k AS (
  SELECT doc_id, lns, lt, t,
         list_filter(lns, x ->
           regexp_matches(x, '[.!?"]\s*$')
           AND len(list_filter(regexp_split_to_array(x, '\s+'),
                               w -> w <> '')) >= 5
           AND NOT contains(lower(x), 'javascript')) AS kept
  FROM l)
SELECT doc_id,
       coalesce(array_to_string(kept, chr(10)), '') AS c4_text,
       CAST(len(lns) AS BIGINT) AS c4_lines_total,
       CAST(len(kept) AS BIGINT) AS c4_lines_kept,
       contains(lt, 'lorem ipsum') AS c4_has_lorem,
       contains(t, '{') AS c4_has_brace,
       (NOT contains(lt, 'lorem ipsum') AND NOT contains(t, '{')
        AND len(kept) >= 3) AS c4_pass
FROM k
"""


def q_text_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text analysis in one row (F2/quality/Gopher-repetition
    /CCNet/C4): token counts ⋈ heuristic quality components ⋈ repetition
    ratios ⋈ bigram-LM perplexity ⋈ Gopher rule-pack ⋈ C4 rule-pack
    signals on doc_id. Each sub-operator keeps its own Arrow/expression
    path; the oracle joins six independent SQL restatements."""
    tok = q_token_stats(spark, sf_dir)
    qual = q_quality_scores(spark, sf_dir)
    rep = q_repetition_stats(spark, sf_dir)
    lm = q_lm_perplexity(spark, sf_dir)
    gopher = q_gopher_rules(spark, sf_dir)
    c4 = q_c4_rules(spark, sf_dir).drop("c4_text")
    return (
        tok.join(qual, "doc_id").join(rep, "doc_id").join(lm, "doc_id")
        .join(gopher, "doc_id").join(c4, "doc_id")
    )


ORACLE_TEXT_METRICS = f"""
SELECT t.*, q.alpha_ratio, q.punct_ratio, q.stopword_ratio, q.mean_word_len,
       q.quality, r.unigram_rep, r.bigram_rep, r.dup_line_frac,
       r.dup_para_frac, r.dup_line_char_frac, r.dup_para_char_frac,
       r.top2_char_frac, r.top3_char_frac, r.top4_char_frac,
       r.dup5_char_frac, r.dup10_char_frac, r.rep_ngram_pass,
       r.rep_dup_pass, r.repetitive,
       l.n_bigrams, l.log_ppl,
       g.g_n_words, g.g_mean_wl, g.g_symbol_ratio, g.g_bullet_frac,
       g.g_ellipsis_frac, g.g_alpha_frac, g.g_stop_hits, g.gopher_pass,
       l.ppl_bucket,
       c.c4_lines_total, c.c4_lines_kept, c.c4_has_lorem, c.c4_has_brace,
       c.c4_pass
FROM ({ORACLE_TOKEN_STATS}) t
JOIN ({ORACLE_QUALITY_SCORES}) q USING (doc_id)
JOIN ({ORACLE_REPETITION_STATS}) r USING (doc_id)
JOIN ({ORACLE_LM_PERPLEXITY}) l USING (doc_id)
JOIN ({ORACLE_GOPHER_RULES}) g USING (doc_id)
JOIN (SELECT doc_id, c4_lines_total, c4_lines_kept, c4_has_lorem,
             c4_has_brace, c4_pass FROM ({ORACLE_C4_RULES}) c0) c
USING (doc_id)
"""


def q_langid_labeled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language identification per document, with the labeled lang carried
    alongside — strictly stronger than the aggregated confusion matrix
    (which is one GROUP BY over these rows)."""
    from validate_xml_rust_spark.operators.textstats import detect_language

    docs = _t(spark, sf_dir, "documents")
    return detect_language(docs).select(
        "doc_id", F.col("lang").alias("labeled"),
        F.col("detected_lang").alias("detected"),
    )


ORACLE_LANGID_LABELED = (
    "WITH d AS (" + ORACLE_LANGID + ") "
    "SELECT d.doc_id, documents.lang AS labeled, d.detected_lang AS detected "
    "FROM documents JOIN d USING (doc_id)"
)


def q_langid_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language identification, both families, one gate:

    - ``signal``: the marker-occurrence heuristic (detect_language) over
      the sf documents table — the cheap Latin-stopword path;
    - ``ngram_model``: the TRAINABLE hashed char-n-gram classifier
      (textstats.langid_train/langid_predict, fastText-style feature
      space with closed-form per-bucket language posteriors) — trained
      INSIDE the gate on the multilingual fixture corpus (doc_id % 4 !=
      0; Latin ×2 / Cyrillic / Greek / CJK scripts) and scored on the
      holdout quarter. The oracle RETRAINS the whole model in SQL from
      the committed snapshot: char 3/4/5-gram extraction, md5 feature
      buckets, add-1 language posteriors in DECIMAL(18,9), exact DECIMAL
      score sums, and the two-step argmax."""
    from validate_xml_rust_spark.operators.textstats import (
        langid_predict,
        langid_train,
    )
    from validate_xml_rust_spark.sources.corpus import lang_corpus

    sig = q_langid_labeled(spark, sf_dir).select(
        F.lit("signal").alias("variant"), "doc_id", "labeled", "detected"
    )
    docs = lang_corpus(spark, 600, n_partitions=8)
    w = langid_train(docs.filter(F.col("doc_id") % 4 != 0))
    pred = langid_predict(docs.filter(F.col("doc_id") % 4 == 0), w)
    model = pred.select(
        F.lit("ngram_model").alias("variant"),
        "doc_id",
        F.col("lang").alias("labeled"),
        F.col("detected_lang").alias("detected"),
    )
    return sig.unionByName(model)


_ORACLE_LANGID_NGRAM = rf"""
WITH d AS (
  SELECT doc_id, lang, lower(coalesce(text, '')) AS t
  FROM '{_FIXTURES / "lang_docs_600.parquet"}'),
g AS (
  SELECT doc_id, lang,
         CAST({_oracle_mix_ticket("substr(t, CAST(p AS INT), n)", "langid")}
              AS BIGINT) % 65536 AS b
  FROM d
  CROSS JOIN (SELECT unnest([3, 4, 5]) AS n) ns
  CROSS JOIN unnest(range(1, length(t) - n + 2)) AS u(p)),
cnt AS (
  SELECT b, lang, count(*) AS c FROM g WHERE doc_id % 4 != 0 GROUP BY b, lang),
tot AS (SELECT b, sum(c) AS tot FROM cnt GROUP BY b),
langs AS (SELECT DISTINCT lang FROM d),
nl AS (SELECT count(*) AS L FROM langs),
w AS (
  SELECT tot.b, langs.lang,
         CAST(round(ln((coalesce(cnt.c, 0) + 1.0) / (tot.tot + 1.0 * nl.L)), 9)
              AS DECIMAL(18,9)) AS w
  FROM tot CROSS JOIN langs CROSS JOIN nl
  LEFT JOIN cnt ON cnt.b = tot.b AND cnt.lang = langs.lang),
sc AS (
  SELECT g.doc_id, w.lang, sum(w.w) AS s
  FROM g JOIN w ON w.b = g.b WHERE g.doc_id % 4 = 0 GROUP BY 1, 2),
mx AS (SELECT doc_id, max(s) AS m FROM sc GROUP BY 1),
pred AS (
  SELECT sc.doc_id, min(sc.lang) AS detected
  FROM sc JOIN mx ON mx.doc_id = sc.doc_id AND sc.s = mx.m GROUP BY 1)
SELECT d.doc_id, d.lang AS labeled, coalesce(p.detected, 'und') AS detected
FROM d LEFT JOIN pred p ON p.doc_id = d.doc_id
WHERE d.doc_id % 4 = 0
"""

ORACLE_LANGID_SUITE = f"""
SELECT 'signal' AS variant, t.* FROM ({ORACLE_LANGID_LABELED}) t
UNION ALL
SELECT 'ngram_model' AS variant, t.* FROM ({_ORACLE_LANGID_NGRAM}) t
"""


def q_diversity_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced diversity sampling (similarity.diversity_sample):
    centroids = the vec_id<8 vectors (data-derived so the oracle can
    reconstruct them, like the embedding-drift anchors), target 20 per
    cluster. The oracle re-derives the argmin assignment, the cluster
    counts, each cluster's floor(target·2³²/n) ticket threshold, and
    every membership decision nibble-by-nibble in SQL. cluster_id rides
    the suite's cos_sim slot (cast double)."""
    import numpy as np

    from validate_xml_rust_spark.operators.similarity import diversity_sample

    emb = _t(spark, sf_dir, "embeddings")
    cents = np.array(
        [
            r["embedding"]
            for r in emb.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
        ],
        dtype="float64",
    )
    return diversity_sample(emb, 20, centroids=cents, seed="div").select(
        "vec_id", F.col("cluster_id").cast("double").alias("cos_sim")
    )


ORACLE_DIVERSITY_SAMPLE = f"""
WITH anch AS (SELECT vec_id AS aid, embedding AS av FROM embeddings WHERE vec_id < 8),
a AS (
  SELECT e.vec_id,
         (SELECT aid FROM (
             SELECT an.aid AS aid,
                    list_sum(list_transform(list_zip(e.embedding, an.av),
                      p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                         * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))) AS d2
             FROM anch an) t ORDER BY d2, aid LIMIT 1) AS cid
  FROM embeddings e WHERE e.embedding IS NOT NULL),
cn AS (SELECT cid, count(*) AS n FROM a GROUP BY cid),
thr AS (SELECT cid,
               LEAST(4294967296, CAST(floor((20.0 * 4294967296) / n) AS BIGINT)) AS th
        FROM cn)
SELECT a.vec_id, CAST(a.cid AS DOUBLE) AS cos_sim
FROM a JOIN thr USING (cid)
WHERE {_oracle_mix_ticket("CAST(a.vec_id AS VARCHAR)", "div")} < th
"""


def q_ann_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k, all three retrieval paths (L1/similarity): brute-force
    cosine (the exactness baseline), IVF probe (nprobe=3/8 — equality with
    the brute-force oracle asserts exact recall@10), sign-LSH bucketed
    search over the planted vectors (exact recall@3), and cluster-balanced
    diversity sampling (membership + assignment re-derived in SQL)."""
    a = q_ann_topk(spark, sf_dir).withColumn("variant", F.lit("brute"))
    b = q_ivf_ann_topk(spark, sf_dir).withColumn("variant", F.lit("ivf"))
    c = q_ann_topk_lsh(spark, sf_dir).withColumn("variant", F.lit("lsh"))
    d = q_diversity_sample(spark, sf_dir).withColumn(
        "variant", F.lit("diversity")
    )
    return a.unionByName(b).unionByName(c).unionByName(d)


ORACLE_ANN_SUITE = (
    _wrap_variant("brute", ORACLE_ANN_TOPK)
    + "\nUNION ALL\n"
    + _wrap_variant("ivf", ORACLE_ANN_TOPK)
    + "\nUNION ALL\n"
    + _wrap_variant("lsh", ORACLE_ANN_TOPK_LSH)
    + "\nUNION ALL\n"
    + _wrap_variant("diversity", ORACLE_DIVERSITY_SAMPLE)
)


def q_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus semantic decontamination
    (similarity.semantic_decontaminate): the planted vectors split into
    a "benchmark" (vec_id % 5 == 0) and a "corpus" (the rest); every
    (benchmark, corpus) pair at cosine ≥ 0.9 must surface through the
    broadcast banded-LSH probe. The oracle is the brute-force CROSS
    cosine scan, so gate equality asserts cross-recall 1.0 at 16×4 bits
    (the same per-pair miss bound as the lsh self-join variant) and
    that the in-place verification against the broadcast vector agrees
    with SQL cosine at 6dp."""
    from validate_xml_rust_spark.operators.similarity import (
        semantic_decontaminate,
    )

    emb = spark.read.parquet(_PLANTED_VECS)
    return semantic_decontaminate(
        emb.filter(F.col("vec_id") % 5 != 0),
        emb.filter(F.col("vec_id") % 5 == 0),
        threshold=0.9, bits_per_band=4, bands=16,
    )


ORACLE_SEMANTIC_DECONTAMINATE = f"""
WITH e AS (SELECT vec_id, embedding FROM '{_PLANTED_VECS}'),
p AS (
  SELECT c.vec_id AS id, b.vec_id AS bench_id,
         round(list_sum(list_transform(list_zip(c.embedding, b.embedding),
                  x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
            * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6) AS cos_sim
  FROM e c JOIN e b ON c.vec_id % 5 != 0 AND b.vec_id % 5 = 0)
SELECT id, bench_id, cos_sim FROM p WHERE cos_sim >= 0.9
"""


def q_embedding_neardup_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup, brute-force block scan (exact) + banded sign-LSH
    + SemDeDup cluster-scoped pruning + cross-corpus semantic
    decontamination over the planted vectors (recall 1.0 at the gate
    threshold for every approximate path). The semdedup variant maps
    (witness, dropped) onto (id_a, id_b) — id_a < id_b by construction;
    the decontam variant maps (bench_id, id) onto (id_a, id_b) — the
    two id spaces are disjoint residue classes."""
    a = q_embedding_neardup_exact(spark, sf_dir).withColumn("variant", F.lit("exact"))
    b = q_embedding_neardup_lsh(spark, sf_dir).withColumn("variant", F.lit("lsh"))
    c = q_semantic_dedup(spark, sf_dir).select(
        F.lit("semdedup").alias("variant"),
        F.col("witness_id").alias("id_a"),
        F.col("vec_id").alias("id_b"),
        "cos_sim",
    )
    d = q_semantic_decontaminate(spark, sf_dir).select(
        F.lit("decontam").alias("variant"),
        F.col("bench_id").alias("id_a"),
        F.col("id").alias("id_b"),
        "cos_sim",
    )
    return a.unionByName(b).unionByName(c).unionByName(d)


ORACLE_EMBEDDING_NEARDUP_SUITE = (
    _wrap_variant("exact", ORACLE_EMBEDDING_NEARDUP_EXACT)
    + "\nUNION ALL\n"
    + "SELECT 'semdedup' AS variant, witness_id AS id_a, vec_id AS id_b, cos_sim\n"
    + f"FROM ({ORACLE_SEMANTIC_DEDUP}) sd\n"
    + "UNION ALL\n"
    + "SELECT 'decontam' AS variant, bench_id AS id_a, id AS id_b, cos_sim\n"
    + f"FROM ({ORACLE_SEMANTIC_DECONTAMINATE}) dc\n"
    + "UNION ALL\n"
    + _wrap_variant("lsh", ORACLE_EMBEDDING_NEARDUP_LSH)
)


def q_neardup_pairs_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text near-dup pair generation, all three families: MinHash-LSH
    (banded Jaccard), exact n-gram Jaccard (lang-blocked O(block²)
    baseline), SimHash (pigeonhole chunk banding, score = Hamming
    distance). Harmonized to (variant, id_a, id_b, score)."""
    mh = q_minhash_neardups(spark, sf_dir).select(
        F.lit("minhash").alias("variant"), "id_a", "id_b",
        F.col("jaccard").cast("double").alias("score"),
    )
    ng = q_ngram_jaccard(spark, sf_dir).select(
        F.lit("ngram").alias("variant"), "id_a", "id_b",
        F.col("jaccard").cast("double").alias("score"),
    )
    sh = q_simhash_neardups(spark, sf_dir).select(
        F.lit("simhash").alias("variant"), "id_a", "id_b",
        F.col("hamming").cast("double").alias("score"),
    )
    return mh.unionByName(ng).unionByName(sh)


ORACLE_NEARDUP_PAIRS_SUITE = f"""
SELECT 'minhash' AS variant, id_a, id_b, CAST(jaccard AS DOUBLE) AS score
FROM ({ORACLE_MINHASH_NEARDUPS}) m
UNION ALL
SELECT 'ngram', id_a, id_b, CAST(jaccard AS DOUBLE)
FROM ({ORACLE_NGRAM_JACCARD}) n
UNION ALL
SELECT 'simhash', id_a, id_b, CAST(hamming AS DOUBLE)
FROM ({ORACLE_SIMHASH_NEARDUPS}) s
"""


def q_drift_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift checks, all six families in one gate (§2.8c):
    per-partition chi² (lang), two-sample KS (n_chars), categorical PSI
    (lang), Jensen–Shannon divergence (lang), binned numeric PSI
    (n_chars), embedding cluster-occupancy PSI, and token-level
    vocabulary JS over md5 buckets — identical
    (partition_id, column_name, test, statistic, n) schema;
    (column_name, test) disambiguates the rows."""
    return (
        q_drift_chi2_lang(spark, sf_dir)
        .unionByName(q_drift_ks_nchars(spark, sf_dir))
        .unionByName(q_drift_psi_lang(spark, sf_dir))
        .unionByName(q_drift_js_lang(spark, sf_dir))
        .unionByName(q_drift_psi_nchars(spark, sf_dir))
        .unionByName(q_embedding_drift(spark, sf_dir))
        .unionByName(q_drift_vocab(spark, sf_dir))
    )


ORACLE_DRIFT_SUITE = "\nUNION ALL\n".join(
    f"SELECT * FROM (\n{sql}\n) d{i}"
    for i, sql in enumerate(
        (
            ORACLE_DRIFT_CHI2_LANG,
            ORACLE_DRIFT_KS_NCHARS,
            ORACLE_DRIFT_PSI_LANG,
            ORACLE_DRIFT_JS_LANG,
            ORACLE_DRIFT_PSI_NCHARS,
            ORACLE_EMBEDDING_DRIFT,
            ORACLE_DRIFT_VOCAB,
        )
    )
)


def q_temporal_join_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two join families Spark lacks natively, one gate: as-of join
    (last purchase at-or-before each click) and bucketized range join
    (clicks in the hour before each error), harmonized to
    (variant, event_id, user_id, ts, val)."""
    asof = q_asof_click_purchase(spark, sf_dir).select(
        F.lit("asof").alias("variant"), "event_id", "user_id",
        F.col("asof_ts").alias("ts"),
        F.col("asof_value").cast("double").alias("val"),
    )
    rng = q_range_join_clicks_before_error(spark, sf_dir).select(
        F.lit("range").alias("variant"), "event_id", "user_id", "ts",
        F.col("clicks_prev_hour").cast("double").alias("val"),
    )
    return asof.unionByName(rng)


ORACLE_TEMPORAL_JOIN_SUITE = f"""
SELECT 'asof' AS variant, event_id, user_id, asof_ts AS ts,
       CAST(asof_value AS DOUBLE) AS val
FROM ({ORACLE_ASOF_CLICK_PURCHASE}) a
UNION ALL
SELECT 'range', event_id, user_id, ts, CAST(clicks_prev_hour AS DOUBLE)
FROM ({ORACLE_RANGE_JOIN_CLICKS_BEFORE_ERROR}) r
"""


def q_normalize_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization (curation.normalize_text): document
    text deterministically perturbed with decomposed accents (e +
    combining acute), the Angstrom sign (U+212B → U+00C5 under NFC),
    a combining diaeresis, and an fi ligature (UNCHANGED under NFC —
    that's NFKC's job); Python unicodedata's NFC must equal DuckDB's
    utf8proc nfc_normalize byte-for-byte on every row."""
    from validate_xml_rust_spark.operators.curation import normalize_text

    docs = _t(spark, sf_dir, "documents")
    m = F.pmod(F.col("doc_id"), F.lit(3))
    t = F.coalesce(F.col("text"), F.lit(""))
    pert = (
        F.when(m == 1, F.concat(F.lit("café Å "), t))
        .when(m == 2, F.concat(F.lit("ﬁle naïve "), t))
        .otherwise(t)
    )
    d2 = docs.select("doc_id", pert.alias("text"))
    return normalize_text(d2).select(
        "doc_id", F.col("text").alias("payload")
    )


ORACLE_NORMALIZE_NFC = (
    "SELECT doc_id, nfc_normalize(CASE CAST(doc_id % 3 AS INT) "
    f"WHEN 1 THEN 'cafe{chr(0x301)} {chr(0x212B)} ' || coalesce(text, '') "
    f"WHEN 2 THEN '{chr(0xFB01)}le nai{chr(0x308)}ve ' || coalesce(text, '') "
    "ELSE coalesce(text, '') END) AS payload FROM documents"
)


def q_source_plumbing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-discovery predicates (S2-S4) + byte-identical text
    extraction (north-rule invariant) + the C4 line-rule text rebuild +
    Unicode NFC normalization, harmonized to (variant, doc_id, payload)."""
    scan = q_scan_url_filters(spark, sf_dir).select(
        F.lit("scan").alias("variant"), "doc_id", F.col("url").alias("payload")
    )
    rt = q_extract_text_roundtrip(spark, sf_dir).select(
        F.lit("extract").alias("variant"), "doc_id",
        F.col("extracted").alias("payload"),
    )
    c4 = q_c4_rules(spark, sf_dir).select(
        F.lit("c4").alias("variant"), "doc_id",
        F.col("c4_text").alias("payload"),
    )
    nfc = q_normalize_nfc(spark, sf_dir).select(
        F.lit("nfc").alias("variant"), "doc_id", "payload"
    )
    return scan.unionByName(rt).unionByName(c4).unionByName(nfc)


ORACLE_SOURCE_PLUMBING = f"""
SELECT 'scan' AS variant, doc_id, url AS payload
FROM ({ORACLE_SCAN_URL_FILTERS}) s
UNION ALL
SELECT 'extract', doc_id, extracted
FROM ({ORACLE_EXTRACT_TEXT_ROUNDTRIP}) e
UNION ALL
SELECT 'c4', doc_id, c4_text
FROM ({ORACLE_C4_RULES}) c
UNION ALL
SELECT 'nfc', doc_id, payload
FROM ({ORACLE_NORMALIZE_NFC}) u
"""


def q_mixture_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted mixture composition (curation.mixture_epochs — the
    Pile/GPT-3 epochs-per-subset recipe) with lang as the source key:
    en upsampled 2.5× (epochs {0,1} + a deterministic ~50% epoch 2),
    de passed through once, fr downsampled to 25%, everything else
    dropped. The oracle re-derives copy counts from the same md5
    ticket and unnests range(n)."""
    from validate_xml_rust_spark.operators.curation import mixture_epochs

    docs = _t(spark, sf_dir, "documents")
    return mixture_epochs(
        docs, {"en": 2.5, "de": 1.0, "fr": 0.25},
        source_col="lang", key_col="doc_id", default_factor=0.0,
    ).select("doc_id", "lang", "epoch")


ORACLE_MIXTURE_EPOCHS = f"""
WITH mf AS (
  SELECT doc_id, lang,
    CASE lang WHEN 'en' THEN 2 WHEN 'de' THEN 1
              WHEN 'fr' THEN 0 ELSE 0 END AS kf,
    CASE lang WHEN 'en' THEN {int((2.5 - 2) * (1 << 32))}
              WHEN 'de' THEN {int((1.0 - 1) * (1 << 32))}
              WHEN 'fr' THEN {int((0.25 - 0) * (1 << 32))}
              ELSE 0 END AS thr,
    {_oracle_mix_ticket(
        "CAST(doc_id AS VARCHAR) || '|' || coalesce(lang, '')", "mx"
    )} AS tick
  FROM documents
), mn AS (
  SELECT doc_id, lang,
         kf + CASE WHEN tick < thr THEN 1 ELSE 0 END AS n
  FROM mf
)
SELECT doc_id, lang, CAST(unnest(range(n)) AS BIGINT) AS epoch
FROM mn WHERE n > 0
"""


def q_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (curation.dsir_resample, Xie et al.
    2023): select the 150 documents most German-like under hashed
    unigram+bigram bucket models of target (lang='de') vs the whole
    corpus, via deterministic Gumbel-top-k. The oracle re-derives every
    md5 bucket, both smoothed bucket models, each doc's log importance
    weight, the ticket-derived Gumbel draw, and the top-150 selection
    nibble-by-nibble in SQL."""
    from validate_xml_rust_spark.operators.curation import dsir_resample

    docs = _t(spark, sf_dir, "documents")
    target = docs.filter(F.col("lang") == "de")
    return dsir_resample(docs, target, k=150).select(
        "doc_id", "lang", "dsir_score"
    )


ORACLE_DSIR_SAMPLE = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(coalesce(text,''))), '[^a-z0-9]+'),
                     x -> length(x) > 0) AS w
  FROM documents),
grams AS (
  SELECT doc_id, unnest(w) AS g FROM toks
  UNION ALL
  SELECT doc_id,
         unnest(CASE WHEN len(w) >= 2 THEN
                  list_transform(range(1, len(w)), i -> array_to_string(w[i:i+1], ' '))
                ELSE [] END) AS g
  FROM toks),
gb AS (
  SELECT doc_id, CAST({_oracle_mix_ticket("g", "dsir")} AS BIGINT) % 4096 AS b
  FROM grams),
ct AS (
  SELECT b, count(*) AS c FROM gb JOIN documents USING (doc_id)
  WHERE documents.lang = 'de' GROUP BY b),
tt AS (SELECT CAST(coalesce(sum(c), 0) AS DOUBLE) AS t FROM ct),
cr AS (SELECT b, count(*) AS c FROM gb GROUP BY b),
tr AS (SELECT CAST(coalesce(sum(c), 0) AS DOUBLE) AS t FROM cr),
lw AS (
  SELECT gb.doc_id,
         sum(ln((coalesce(ct.c, 0) + 1.0) / (tt.t + 4096.0))
             - ln((coalesce(cr.c, 0) + 1.0) / (tr.t + 4096.0))) AS logw
  FROM gb LEFT JOIN ct USING (b) LEFT JOIN cr USING (b), tt, tr
  GROUP BY gb.doc_id),
sc AS (
  SELECT d.doc_id, d.lang,
         round(coalesce(lw.logw, 0)
               + (-ln(-ln(({_oracle_mix_ticket(
                   "CAST(d.doc_id AS VARCHAR)", "dsir_g"
               )} + 0.5) / 4294967296.0))), 6) AS dsir_score
  FROM documents d LEFT JOIN lw USING (doc_id))
SELECT doc_id, lang, dsir_score FROM sc
ORDER BY dsir_score DESC, doc_id LIMIT 150
"""


# the brute-force Jaccard pairs → transitive closure → component labels
# over the committed 600-doc snapshot — the shared prefix of every
# component-derived oracle (labels, quality keepers, leakage splits)
_ORACLE_CC_LABELS = rf"""
WITH RECURSIVE toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(coalesce(text,''))), '[^a-z0-9]+'),
                     x -> length(x) > 0) AS w
  FROM '{_FIXTURES / "synthetic_docs_600.parquet"}'),
sh AS (
  SELECT doc_id,
         CASE WHEN len(w) = 0 THEN []
              WHEN len(w) >= 3 THEN
                list_distinct(list_transform(range(1, len(w) - 1),
                              i -> array_to_string(w[i:i+2], ' ')))
              ELSE [array_to_string(w, ' ')] END AS s
  FROM toks),
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        / greatest(len(list_distinct(list_concat(a.s, b.s))), 1) >= 0.6),
e AS (SELECT id_a AS s, id_b AS d FROM p UNION SELECT id_b, id_a FROM p),
reach(s, d) AS (
  SELECT s, d FROM e
  UNION
  SELECT r.s, e.d FROM reach r JOIN e ON r.d = e.s),
lab AS (
  SELECT s AS id, CAST(least(s, min(d)) AS BIGINT) AS component
  FROM reach GROUP BY s)"""


def q_leakage_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test splitting (dedup.leakage_safe_split):
    near-dup components over the planted 600-doc corpus draw ONE ticket
    each, so no near-copy pair straddles splits. The oracle re-derives
    the closure labels (shared CC prefix), each doc's component-or-own
    draw key, the md5 ticket, and the cumulative-threshold assignment
    from scratch."""
    from validate_xml_rust_spark.ckpt import release_blocks
    from validate_xml_rust_spark.operators.dedup import leakage_safe_split
    from validate_xml_rust_spark.sources.corpus import synthetic_documents

    docs = synthetic_documents(spark, 600, n_partitions=8)
    st: dict = {}
    out = leakage_safe_split(
        docs, {"train": 0.8, "val": 0.1, "test": 0.1},
        threshold=0.6, stats=st,
    ).select("doc_id", "split")
    from validate_xml_rust_spark.ckpt import eager_checkpoint

    out, _ = eager_checkpoint(out)
    release_blocks(spark.sparkContext, st.get("ckpt_block_ids", frozenset()))
    return out


# cumulative thresholds in sorted-name order: test [0,.1), train [.1,.9),
# val [.9,1) — mirrored from the operator's sorted(weights) chain
ORACLE_LEAKAGE_SPLIT = rf"""{_ORACLE_CC_LABELS},
alldocs AS (SELECT doc_id FROM '{_FIXTURES / "synthetic_docs_600.parquet"}'),
keyed AS (
  SELECT d.doc_id, coalesce(lab.component, d.doc_id) AS k
  FROM alldocs d LEFT JOIN lab ON lab.id = d.doc_id),
tk AS (
  SELECT doc_id,
         CAST({_oracle_mix_ticket("CAST(k AS VARCHAR)", "split")} AS BIGINT) AS t
  FROM keyed)
SELECT doc_id,
       CASE WHEN t >= {int(0.9 * (1 << 32))} THEN 'val'
            WHEN t >= {int(0.1 * (1 << 32))} THEN 'train'
            ELSE 'test' END AS split
FROM tk
"""


def q_content_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-keyed sampling, flat 25% + per-lang
    stratified rates + weighted mixture composition with upsampling
    epochs + DSIR importance resampling, one gate
    (variant, doc_id, lang, epoch, score)."""
    null_epoch = F.lit(None).cast("long").alias("epoch")
    null_score = F.lit(None).cast("double").alias("score")
    a = q_hash_sample(spark, sf_dir).select(
        F.lit("flat").alias("variant"), "doc_id", "lang", null_epoch,
        null_score,
    )
    b = q_stratified_sample(spark, sf_dir).select(
        F.lit("stratified").alias("variant"), "doc_id", "lang", null_epoch,
        null_score,
    )
    c = q_mixture_epochs(spark, sf_dir).select(
        F.lit("mixture").alias("variant"), "doc_id", "lang", "epoch",
        null_score,
    )
    d = q_dsir_sample(spark, sf_dir).select(
        F.lit("dsir").alias("variant"), "doc_id", "lang", null_epoch,
        F.col("dsir_score").alias("score"),
    )
    # leakage-safe split rides the lang slot with its split label (the
    # suite's string payload column) over the planted 600-doc corpus
    e = q_leakage_split(spark, sf_dir).select(
        F.lit("leak_split").alias("variant"), "doc_id",
        F.col("split").alias("lang"), null_epoch, null_score,
    )
    # per-group cap (~10 docs per source — BELOW the per-source
    # population at every sf, so the cap actually bites): the
    # crawl-balance policy; the group label rides the lang slot
    from validate_xml_rust_spark.operators.curation import cap_per_group

    f = cap_per_group(
        _t(spark, sf_dir, "documents"), "source", 10
    ).select(
        F.lit("host_cap").alias("variant"), "doc_id",
        F.coalesce(F.col("source"), F.lit("__null__")).alias("lang"),
        null_epoch, null_score,
    )
    return (
        a.unionByName(b).unionByName(c).unionByName(d)
        .unionByName(e).unionByName(f)
    )


ORACLE_CONTENT_SAMPLE = (
    _wrap_variant(
        "flat",
        "SELECT *, CAST(NULL AS BIGINT) AS epoch, CAST(NULL AS DOUBLE) AS score "
        f"FROM ({ORACLE_HASH_SAMPLE})",
    )
    + "\nUNION ALL\n"
    + _wrap_variant(
        "stratified",
        "SELECT *, CAST(NULL AS BIGINT) AS epoch, CAST(NULL AS DOUBLE) AS score "
        f"FROM ({ORACLE_STRATIFIED_SAMPLE})",
    )
    + "\nUNION ALL\n"
    + _wrap_variant(
        "mixture",
        "SELECT *, CAST(NULL AS DOUBLE) AS score FROM "
        f"({ORACLE_MIXTURE_EPOCHS})",
    )
    + "\nUNION ALL\n"
    + _wrap_variant(
        "dsir",
        "SELECT doc_id, lang, CAST(NULL AS BIGINT) AS epoch, "
        f"dsir_score AS score FROM ({ORACLE_DSIR_SAMPLE})",
    )
    + "\nUNION ALL\n"
    + _wrap_variant(
        "leak_split",
        "SELECT doc_id, split AS lang, CAST(NULL AS BIGINT) AS epoch, "
        f"CAST(NULL AS DOUBLE) AS score FROM ({ORACLE_LEAKAGE_SPLIT})",
    )
    + "\nUNION ALL\n"
    + _wrap_variant(
        "host_cap",
        f"""SELECT doc_id, grp AS lang, CAST(NULL AS BIGINT) AS epoch,
       CAST(NULL AS DOUBLE) AS score
FROM (SELECT doc_id, coalesce(source, '__null__') AS grp,
             {_oracle_mix_ticket("coalesce(CAST(doc_id AS VARCHAR), '')",
                                 "cap")} AS tick
      FROM documents) d
JOIN (SELECT coalesce(source, '__null__') AS grp,
             floor({10 * (1 << 32)} / count(*)) AS thr
      FROM documents GROUP BY 1) t USING (grp)
WHERE d.tick < t.thr""",
    )
)


def q_decontaminate_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-length-sweep decontamination (curation.contamination_sweep,
    the GPT-3/PaLM 13-gram recipe): benchmark = full texts of the
    ``doc_id % 100 == 7`` docs (long entries, 13-gram pass) PLUS planted
    SHORT questions — the first 6 tokens of every ``doc_id % 50 == 11``
    doc — which a fixed-13-gram check cannot see. Each short entry is
    matched as an exact token-substring via the per-length pass, so every
    planted source doc must be flagged. The oracle restates the whole
    sweep in SQL over string grams keyed by (gram_length, gram)."""
    from validate_xml_rust_spark.functions.texthash import tokens
    from validate_xml_rust_spark.operators.curation import contamination_sweep

    docs = _t(spark, sf_dir, "documents")
    short = (
        docs.filter(F.col("doc_id") % 50 == 11)
        .withColumn("__w", tokens(F.col("text")))
        .filter(F.size("__w") >= 6)
        .select(F.concat_ws(" ", F.slice("__w", 1, 6)).alias("text"))
    )
    bench = docs.filter(F.col("doc_id") % 100 == 7).select("text").unionByName(short)
    return contamination_sweep(docs, bench, primary_n=13, min_n=5)


ORACLE_DECONTAMINATE_SWEEP = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(coalesce(text,''))), '[^a-z0-9]+'),
                     x -> length(x) > 0) AS w
  FROM documents),
bench_entries AS (
  -- long benchmark entries: whole docs, matched at gram length 13 when
  -- they have >= 13 tokens, at their own length when 5..12 (the sweep's
  -- per-length routing), excluded below 5
  SELECT w, CASE WHEN len(w) >= 13 THEN 13 ELSE len(w) END AS gl
  FROM toks WHERE doc_id % 100 = 7 AND len(w) >= 5
  UNION ALL
  -- planted short questions: first 6 tokens of every doc_id%50==11 doc
  SELECT w[1:6] AS w, 6 AS gl FROM toks WHERE doc_id % 50 = 11 AND len(w) >= 6),
bu AS (
  SELECT DISTINCT gl, gram FROM (
    SELECT gl, unnest(
      CASE WHEN len(w) = 0 THEN []
           WHEN len(w) >= gl THEN
             list_distinct(list_transform(range(1, len(w) - gl + 2),
                           i -> array_to_string(w[i:i+gl-1], ' ')))
           ELSE [array_to_string(w, ' ')] END) AS gram
    FROM bench_entries) q),
gls AS (SELECT DISTINCT gl FROM bu),
du AS (
  SELECT t.doc_id, g.gl, unnest(
      CASE WHEN len(t.w) = 0 THEN []
           WHEN len(t.w) >= g.gl THEN
             list_distinct(list_transform(range(1, len(t.w) - g.gl + 2),
                           i -> array_to_string(t.w[i:i+g.gl-1], ' ')))
           ELSE [array_to_string(t.w, ' ')] END) AS gram
  FROM toks t CROSS JOIN gls g),
hits AS (
  SELECT doc_id, count(*) AS n
  FROM (SELECT DISTINCT doc_id, gl, gram FROM du) d
  JOIN bu USING (gl, gram) GROUP BY doc_id)
SELECT d.doc_id,
       CAST(coalesce(hits.n, 0) AS BIGINT) AS n_contaminated_ngrams,
       coalesce(hits.n, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits ON d.doc_id = hits.doc_id
"""


def q_orchestrate_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's top-level declarative API (orchestrate.validate_full):
    ONE spec declares row checks (not_null, range, C4 page gate) plus six table-scope
    constraint kinds — uniqueness, referential, functional dependency,
    host-quality keep/drop, PSI drift, and the CCNet-style bigram-LM
    budget — routed by lang (en/de/fr govern the spec; es/zh rows are
    out of scope for the table checks). Output: violation count per
    constraint over row+table violations unioned. The oracle re-derives
    every count from scratch, including the spec routing/scoping, the
    salted-agg host means (DECIMAL-exact), the per-partition PSI
    statistic vs the scoped-corpus baseline, and the full LM retrain."""
    from validate_xml_rust_spark.operators.drift import categorical_baseline
    from validate_xml_rust_spark.operators.orchestrate import (
        TableContext,
        validate_full,
    )

    docs = _t(spark, sf_dir, "documents").withColumn(
        "partition_id", (F.col("doc_id") % 8).cast("int")
    ).withColumn("doc_key", F.col("doc_id").cast("string")).withColumn(
        # the rollup grain: a deterministic domain over the src hosts
        # (the TLD/registered-domain analog for the synthetic sources)
        "domain",
        F.when(
            F.substring("source", 4, 10).cast("int") % 2 == 0,
            F.lit("dom-even"),
        ).otherwise(F.lit("dom-odd")),
    )
    routed = ["en", "de", "fr"]
    scoped = docs.filter(F.col("lang").isin(routed))
    spec = Spec(
        "doc-orch-v1",
        (
            Constraint("text_not_null", "text", "not_null"),
            Constraint("n_chars_range", "n_chars", "range",
                       {"lo": N_CHARS_LO, "hi": N_CHARS_HI}),
            Constraint("uq_lang_nchars", "lang", "unique",
                       {"keys": ["lang", "n_chars"]}),
            Constraint("ref_source", "source", "referential",
                       {"ref_table": "sources", "parent_key": "source"}),
            Constraint("fd_source_lang", "source", "fd",
                       {"determinant": ["source"], "dependent": "lang"}),
            # domain→host rollup: one corpus shuffle at (domain, host)
            # grain, violations at both grains (domain rows surface as
            # hq_source@domain) — 0.667 splits the two domains at sf0.01
            Constraint("hq_source", "source", "host_quality",
                       {"min_mean_quality": 0.67, "min_docs": 5,
                        "domain_col": "domain",
                        "domain_min_mean_quality": 0.667,
                        "domain_min_docs": 5}),
            Constraint("drift_lang", "lang", "drift",
                       {"test": "psi", "threshold": 0.0}),
            # vocabulary drift of the text column itself (token-level
            # JS over 64 md5 buckets, self-baselined on the scoped
            # corpus; threshold 0 so every partition with any
            # divergence violates — the plumbing check)
            Constraint("vocab_text", "text", "drift",
                       {"test": "vocab", "threshold": 0.0,
                        "n_buckets": 64}),
            # CCNet-style LM budget: bigram LM trained on the en docs,
            # scoped docs above 3.5 nats/bigram violate (the scores are
            # 6dp-identical across engines — text_metrics pins that —
            # so the threshold needs no margin)
            Constraint("lm_en", "text", "lm_quality",
                       {"ref_table": "lm_ref", "max_log_ppl": 3.5}),
            # C4 page gate as a row kind: lorem-ipsum/brace pages and
            # pages with <2 lines surviving the C4 line filter violate
            Constraint("c4_page", "text", "c4", {"min_lines": 2}),
        ),
    )
    registry = SpecRegistry().add(spec, route_keys=routed)
    ctx = TableContext(
        # parent registry missing src3 → every scoped src3 row violates
        ref_tables={
            "sources": docs.select("source")
            .filter(F.col("source") != "src3").distinct(),
            "lm_ref": docs.filter(F.col("lang") == "en").select("text"),
        },
        baselines={"lang": categorical_baseline(scoped, "lang")},
    )
    res = validate_full(
        docs, spark, registry, context=ctx, route_col="lang",
        route_mode="column", id_col="doc_key",
    )
    out = (
        res.all_violations()
        .groupBy("constraint_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_violations"))
    )
    return out


ORACLE_ORCHESTRATE_FULL = f"""
WITH scoped AS (
  SELECT * FROM documents WHERE lang IN ('en','de','fr')),
row_v AS (
  SELECT 'text_not_null' AS constraint_id, CAST(count(*) AS BIGINT) AS n_violations
  FROM scoped WHERE text IS NULL
  UNION ALL
  SELECT 'n_chars_range', CAST(count(*) AS BIGINT)
  FROM scoped
  WHERE n_chars IS NOT NULL AND (n_chars < {N_CHARS_LO} OR n_chars > {N_CHARS_HI})),
uq AS (
  SELECT 'uq_lang_nchars' AS constraint_id, CAST(coalesce(sum(n), 0) AS BIGINT) AS n_violations
  FROM (SELECT count(*) AS n FROM scoped
        WHERE lang IS NOT NULL AND n_chars IS NOT NULL
        GROUP BY lang, n_chars HAVING count(*) > 1) g),
refv AS (
  SELECT 'ref_source' AS constraint_id, CAST(count(*) AS BIGINT) AS n_violations
  FROM scoped
  WHERE source IS NOT NULL
    AND source NOT IN (SELECT source FROM documents
                       WHERE source IS NOT NULL AND source <> 'src3')),
fd AS (
  SELECT 'fd_source_lang' AS constraint_id, CAST(count(*) AS BIGINT) AS n_violations
  FROM (SELECT source,
               count(DISTINCT lang)
             + max(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS n_dep
        FROM scoped WHERE source IS NOT NULL
        GROUP BY source HAVING n_dep > 1) g),
hq_docs AS (
  SELECT source,
         CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0
              THEN 'dom-even' ELSE 'dom-odd' END AS domain,
         CAST(round(least(greatest(
             CAST(length(regexp_replace(coalesce(text,''), '[^A-Za-z]', '', 'g')) AS DOUBLE)
               / greatest(length(coalesce(text,'')), 1) * 0.5
           + least(((length(' ' || lower(coalesce(text,'')) || ' ') - length(replace(' ' || lower(coalesce(text,'')) || ' ', ' the ', ''))) / 5.0
                  + (length(' ' || lower(coalesce(text,'')) || ' ') - length(replace(' ' || lower(coalesce(text,'')) || ' ', ' and ', ''))) / 5.0
                  + (length(' ' || lower(coalesce(text,'')) || ' ') - length(replace(' ' || lower(coalesce(text,'')) || ' ', ' of ', ''))) / 4.0)
                 / greatest(len(list_filter(regexp_split_to_array(trim(coalesce(text,'')), '\\s+'), x -> length(x) > 0)), 1) * 2.0, 0.3)
           + (CASE WHEN CAST(length(coalesce(text,'')) AS DOUBLE)
                        / greatest(len(list_filter(regexp_split_to_array(trim(coalesce(text,'')), '\\s+'), x -> length(x) > 0)), 1)
                   BETWEEN 3 AND 10 THEN 0.2 ELSE 0.0 END)
           - (CASE WHEN CAST(length(regexp_replace(coalesce(text,''), '[^.,!?;:]', '', 'g')) AS DOUBLE)
                        / greatest(length(coalesce(text,'')), 1) > 0.1 THEN 0.2 ELSE 0.0 END),
           0.0), 1.0), 6) AS DECIMAL(18,6)) AS q6
  FROM scoped WHERE source IS NOT NULL),
hqq AS (
  SELECT source, count(*) AS n_docs,
         round(CAST(sum(q6) AS DOUBLE) / count(*), 6) AS mean_quality
  FROM hq_docs GROUP BY source),
hqd AS (
  SELECT domain, count(*) AS n_docs,
         round(CAST(sum(q6) AS DOUBLE) / count(*), 6) AS mean_quality
  FROM hq_docs GROUP BY domain),
hq AS (
  SELECT 'hq_source' AS constraint_id, CAST(count(*) AS BIGINT) AS n_violations
  FROM hqq WHERE n_docs >= 5 AND mean_quality < 0.67),
hq_dom AS (
  SELECT 'hq_source@domain' AS constraint_id, CAST(count(*) AS BIGINT) AS n_violations
  FROM hqd WHERE n_docs >= 5 AND mean_quality < 0.667),
pbase AS (
  SELECT lang AS cat, CAST(count(*) AS DOUBLE) AS b
  FROM scoped WHERE lang IS NOT NULL GROUP BY 1),
pcats AS (SELECT cat FROM pbase UNION ALL SELECT '__OTHER__'),
pkk AS (SELECT CAST(count(*) AS DOUBLE) AS k FROM pcats),
pmm AS (SELECT sum(b) AS m FROM pbase),
pobs AS (
  SELECT CAST(doc_id % 8 AS INT) AS pid, lang AS cat, count(*) AS o
  FROM scoped WHERE lang IS NOT NULL GROUP BY 1, 2),
ppn AS (SELECT pid, CAST(sum(o) AS DOUBLE) AS n FROM pobs GROUP BY 1),
pgrid AS (
  SELECT ppn.pid, ppn.n,
         CAST(coalesce(pobs.o, 0) AS DOUBLE) AS o,
         coalesce(pbase.b, 0.0) AS b
  FROM ppn CROSS JOIN pcats
  LEFT JOIN pobs ON pobs.pid = ppn.pid AND pobs.cat = pcats.cat
  LEFT JOIN pbase ON pbase.cat = pcats.cat),
pterms AS (
  SELECT pid, n,
         ((o + 0.5) / (n + 0.5 * k) - (b + 0.5) / (m + 0.5 * k))
           * ln(((o + 0.5) / (n + 0.5 * k)) / ((b + 0.5) / (m + 0.5 * k))) AS t
  FROM pgrid CROSS JOIN pkk CROSS JOIN pmm),
pstat AS (
  SELECT pid,
         CASE WHEN max(n) < 20 THEN 0.0 ELSE round(sum(t), 6) END AS statistic
  FROM pterms GROUP BY pid),
psi AS (
  SELECT 'drift_lang' AS constraint_id, CAST(count(*) AS BIGINT) AS n_violations
  FROM pstat WHERE statistic > 0.0),
vtoks AS (
  SELECT CAST(doc_id % 8 AS INT) AS pid,
         unnest(list_filter(regexp_split_to_array(
             lower(trim(coalesce(text, ''))), '[^a-z0-9]+'),
             x -> length(x) > 0)) AS tok
  FROM scoped),
vv AS (
  SELECT pid,
         CAST(CAST({_oracle_mix_ticket("tok", "vocab")} AS BIGINT) % 64
              AS VARCHAR) AS cat
  FROM vtoks),
vbase AS (SELECT cat, CAST(count(*) AS DOUBLE) AS b FROM vv GROUP BY 1),
vcats AS (SELECT cat FROM vbase UNION ALL SELECT '__OTHER__'),
vkk AS (SELECT CAST(count(*) AS DOUBLE) AS k FROM vcats),
vmm AS (SELECT sum(b) AS m FROM vbase),
vobs AS (SELECT pid, cat, count(*) AS o FROM vv GROUP BY 1, 2),
vpn AS (SELECT pid, CAST(sum(o) AS DOUBLE) AS n FROM vobs GROUP BY 1),
vgrid AS (
  SELECT vpn.pid, vpn.n,
         CAST(coalesce(vobs.o, 0) AS DOUBLE) AS o,
         coalesce(vbase.b, 0.0) AS b
  FROM vpn CROSS JOIN vcats
  LEFT JOIN vobs ON vobs.pid = vpn.pid AND vobs.cat = vcats.cat
  LEFT JOIN vbase ON vbase.cat = vcats.cat),
vterms AS (
  SELECT pid, n,
         ((o + 0.5) / (n + 0.5 * k) * ln(((o + 0.5) / (n + 0.5 * k))
            / (((o + 0.5) / (n + 0.5 * k) + (b + 0.5) / (m + 0.5 * k)) / 2))
          + (b + 0.5) / (m + 0.5 * k) * ln(((b + 0.5) / (m + 0.5 * k))
            / (((o + 0.5) / (n + 0.5 * k) + (b + 0.5) / (m + 0.5 * k)) / 2))) / 2 AS t
  FROM vgrid CROSS JOIN vkk CROSS JOIN vmm),
vstat AS (
  SELECT pid, CASE WHEN max(n) < 20 THEN 0.0 ELSE round(sum(t), 6) END AS statistic
  FROM vterms GROUP BY pid),
vdr AS (
  SELECT 'vocab_text' AS constraint_id, CAST(count(*) AS BIGINT) AS n_violations
  FROM vstat WHERE statistic > 0.0),
lmqw AS (
  SELECT doc_id, lang,
         list_filter(regexp_split_to_array(lower(trim(coalesce(text,''))), '[^a-z0-9]+'),
                     x -> length(x) > 0) AS w
  FROM scoped),
lmqrb AS (SELECT w[i-1] || ' ' || w[i] AS bg, count(*) AS c2
  FROM lmqw, unnest(range(2, len(w)+1)) AS t(i) WHERE lang = 'en' GROUP BY 1),
lmqru AS (SELECT u.x AS w1, count(*) AS c1
  FROM lmqw, unnest(w) AS u(x) WHERE lang = 'en' GROUP BY 1),
lmqv AS (SELECT CAST(count(*) AS DOUBLE) AS V FROM lmqru),
lmqdb AS (SELECT doc_id, w[i-1] AS w1, w[i-1] || ' ' || w[i] AS bg
  FROM lmqw, unnest(range(2, len(w)+1)) AS t(i)),
lmqsc AS (SELECT lmqdb.doc_id,
         round(-avg(ln((coalesce(lmqrb.c2, 0) + 0.1)
                     / (coalesce(lmqru.c1, 0) + 0.1 * lmqv.V))), 6) AS lp
  FROM lmqdb LEFT JOIN lmqrb USING (bg) LEFT JOIN lmqru USING (w1), lmqv
  GROUP BY lmqdb.doc_id),
lmq AS (
  SELECT 'lm_en' AS constraint_id, CAST(count(*) AS BIGINT) AS n_violations
  FROM lmqsc WHERE lp > 3.5),
c4v AS (
  SELECT 'c4_page' AS constraint_id, CAST(count(*) AS BIGINT) AS n_violations
  FROM (
    SELECT text,
           contains(lower(coalesce(text, '')), 'lorem ipsum') AS lor,
           contains(coalesce(text, ''), '{{') AS brc,
           len(list_filter(
             list_filter(regexp_split_to_array(coalesce(text, ''), '\\n'),
                         x -> x <> ''),
             x -> regexp_matches(x, '[.!?"]\\s*$')
               AND len(list_filter(regexp_split_to_array(x, '\\s+'),
                                   w -> w <> '')) >= 5
               AND NOT contains(lower(x), 'javascript'))) AS kept_n
    FROM scoped) s
  WHERE s.text IS NOT NULL AND (s.lor OR s.brc OR s.kept_n < 2))
SELECT * FROM (
  SELECT * FROM row_v UNION ALL SELECT * FROM uq UNION ALL
  SELECT * FROM refv UNION ALL SELECT * FROM fd UNION ALL
  SELECT * FROM hq UNION ALL SELECT * FROM hq_dom UNION ALL
  SELECT * FROM psi UNION ALL SELECT * FROM vdr UNION ALL
  SELECT * FROM lmq UNION ALL
  SELECT * FROM c4v) all_v
WHERE n_violations > 0
"""


def q_decontaminate_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both decontamination modes, one gate: the fixed-8-gram intersection
    and the 13-gram + short-substring length sweep (variant column)."""
    a = q_decontaminate(spark, sf_dir).withColumn("variant", F.lit("fixed8"))
    b = q_decontaminate_sweep(spark, sf_dir).withColumn("variant", F.lit("sweep"))
    return a.unionByName(b)


ORACLE_DECONTAMINATE_SUITE = (
    _wrap_variant("fixed8", ORACLE_DECONTAMINATE)
    + "\nUNION ALL\n"
    + _wrap_variant("sweep", ORACLE_DECONTAMINATE_SWEEP)
)


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window token chunking (curation.chunk_documents): 40-token
    chunks with 8-token overlap over every document — zero-shuffle narrow
    expressions; the oracle re-derives every chunk string and length from
    the same stride arithmetic in SQL."""
    from validate_xml_rust_spark.operators.curation import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_tokens=40, overlap=8)


ORACLE_CHUNK_DOCUMENTS = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(coalesce(text,''))), '[^a-z0-9]+'),
                     x -> length(x) > 0) AS w
  FROM documents),
c AS (
  SELECT doc_id, len(w) AS n, w,
         CASE WHEN len(w) <= 40 THEN 1
              ELSE CAST(floor((len(w) - 40 + 31) / 32) + 1 AS INT) END AS n_chunks
  FROM toks WHERE len(w) > 0)
SELECT doc_id,
       CAST(i AS INT) AS chunk_idx,
       array_to_string(w[i*32+1 : i*32+40], ' ') AS chunk_text,
       CAST(least(n - i*32, 40) AS INT) AS n_tokens
FROM c, unnest(range(0, n_chunks)) AS t(i)
"""


def q_chunk_documents_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-real chunking: the same 40/8 sliding window, budgeted in BPE
    SUBWORD tokens of the committed vocabulary (functions/bpe.py) over the
    planted synthetic corpus. Spark runs the live Arrow encoder + the
    shared window expressions; the oracle rebuilds every doc's subword
    stream from the committed word→pieces fixture table and re-derives
    every chunk boundary and chunk string from the same stride arithmetic
    in SQL — so encoder output AND window math are both pinned."""
    from validate_xml_rust_spark.functions.bpe import default_bpe
    from validate_xml_rust_spark.operators.curation import chunk_documents
    from validate_xml_rust_spark.sources.corpus import synthetic_documents

    docs = synthetic_documents(spark, 600, n_partitions=8)
    return chunk_documents(
        docs, chunk_tokens=40, overlap=8, tokenizer="bpe",
        bpe=default_bpe(spark),
    )


ORACLE_CHUNK_DOCUMENTS_BPE = rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(coalesce(text,''))), '[^a-z0-9]+'),
                     x -> length(x) > 0) AS w
  FROM '{_FIXTURES / "synthetic_docs_600.parquet"}'),
tw AS (
  SELECT doc_id, i AS wpos, w[i] AS word
  FROM toks, unnest(range(1, len(w) + 1)) AS t(i)),
ts AS (
  SELECT tw.doc_id, tw.wpos, string_split(b.subs, ' ') AS pieces
  FROM tw JOIN '{_FIXTURES / "bpe_words_600.parquet"}' b USING (word)),
flat AS (
  SELECT doc_id, flatten(list(pieces ORDER BY wpos)) AS s
  FROM ts GROUP BY doc_id),
c AS (
  SELECT doc_id, len(s) AS n, s,
         CASE WHEN len(s) <= 40 THEN 1
              ELSE CAST(floor((len(s) - 40 + 31) / 32) + 1 AS INT) END AS n_chunks
  FROM flat WHERE len(s) > 0)
SELECT doc_id,
       CAST(i AS INT) AS chunk_idx,
       array_to_string(s[i*32+1 : i*32+40], ' ') AS chunk_text,
       CAST(least(n - i*32, 40) AS INT) AS n_tokens
FROM c, unnest(range(0, n_chunks)) AS t(i)
"""


def q_chunk_documents_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both chunking token domains, one gate: whitespace words over the sf
    documents table, BPE subwords over the fixture corpus (variant col)."""
    a = q_chunk_documents(spark, sf_dir).withColumn("variant", F.lit("ws"))
    b = q_chunk_documents_bpe(spark, sf_dir).withColumn("variant", F.lit("bpe"))
    return a.unionByName(b)


ORACLE_CHUNK_DOCUMENTS_SUITE = (
    _wrap_variant("ws", ORACLE_CHUNK_DOCUMENTS)
    + "\nUNION ALL\n"
    + _wrap_variant("bpe", ORACLE_CHUNK_DOCUMENTS_BPE)
)


def q_pandas_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Arrow-batched named-validator path (§2.8 UDF surface,
    specs kind ``pandas_check``) driven end-to-end through validate():
    three checkers over the events table with DETERMINISTIC planted
    corruption — ``valid_json`` (every 97th props gets a dangling brace),
    ``ascii_printable`` (every 101st event_type gets a BEL byte), and
    ``balanced_tags`` (every 89th row gets an unclosed div). The oracle
    re-derives each per-row verdict: json_valid / an ASCII character-class
    regex / the planted-unbalanced rule."""
    ev = _t(spark, sf_dir, "events")
    d = (
        ev.withColumn(
            "props2",
            F.when(F.col("event_id") % 97 == 3, F.concat("props", F.lit("{")))
            .otherwise(F.col("props")),
        )
        .withColumn(
            "etype2",
            F.when(
                F.col("event_id") % 101 == 5,
                F.concat("event_type", F.lit("\x07")),
            ).otherwise(F.col("event_type")),
        )
        .withColumn(
            "html2",
            F.when(F.col("event_id") % 89 == 7, F.lit("<div><p>x</p>"))
            .otherwise(F.lit("<div><p>x</p></div>")),
        )
        .withColumn("event_key", F.col("event_id").cast("string"))
    )
    spec = Spec(
        "ev-pandas-v1",
        (
            Constraint("props_json", "props2", "pandas_check",
                       {"checker": "valid_json"}),
            Constraint("etype_ascii", "etype2", "pandas_check",
                       {"checker": "ascii_printable"}),
            Constraint("html_balanced", "html2", "pandas_check",
                       {"checker": "balanced_tags"}),
        ),
    )
    reg = SpecRegistry().add(spec)
    res = validate(
        d, spark, reg, override_spec_id="ev-pandas-v1", id_col="event_key",
        partition_col=None,
    )
    return res.verdicts.select(
        F.col("url").alias("event_key"), "status",
        F.col("error_count").cast("int").alias("error_count"),
    )


ORACLE_PANDAS_CHECKS = r"""
WITH d AS (
  SELECT CAST(event_id AS VARCHAR) AS event_key,
         CASE WHEN event_id % 97 = 3 THEN props || '{' ELSE props END AS props2,
         CASE WHEN event_id % 101 = 5 THEN event_type || chr(7) ELSE event_type END AS etype2,
         (event_id % 89 = 7) AS html_bad
  FROM events),
f AS (
  SELECT event_key,
         (CASE WHEN props2 IS NOT NULL AND NOT json_valid(props2) THEN 1 ELSE 0 END)
       + (CASE WHEN etype2 IS NOT NULL
               AND NOT regexp_matches(etype2, '^[\t\n\r -~]*$') THEN 1 ELSE 0 END)
       + (CASE WHEN html_bad THEN 1 ELSE 0 END) AS fails
  FROM d)
SELECT event_key,
       CASE WHEN fails > 0 THEN 'invalid' ELSE 'valid' END AS status,
       CAST(CASE WHEN fails > 0 THEN fails ELSE 0 END AS INT) AS error_count
FROM f
"""


def q_near_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash near-dup pair graph
    (dedup.connected_components — min-label propagation + pointer
    jumping): components over the planted 600-doc corpus must equal a
    from-scratch DuckDB derivation — brute-force O(n²) exact Jaccard
    pairs on the committed snapshot of the same rows, then the transitive
    closure via WITH RECURSIVE, component = min reachable id. Equality
    gates BOTH the LSH pair recall (1.0 on this corpus, as in the
    minhash gate) and the iterative component labeling."""
    from validate_xml_rust_spark.operators.dedup import (
        connected_components,
        minhash_near_duplicates,
    )
    from validate_xml_rust_spark.sources.corpus import synthetic_documents

    from validate_xml_rust_spark.ckpt import (
        block_ids_of,
        eager_checkpoint,
        release_blocks,
    )

    docs = synthetic_documents(spark, 600, n_partitions=8)
    pairs = minhash_near_duplicates(docs, threshold=0.6)
    comp = connected_components(pairs)
    # materialize the (tiny) label rows, then free the pairs/labels
    # checkpoints (DataFrame.unpersist can't reach them — CLAUDE.md);
    # only the O(components)-row result block outlives the call
    labels, _ = eager_checkpoint(
        comp.select(
            F.col("id").cast("long").alias("id"),
            F.col("component").cast("long").alias("component"),
        )
    )
    release_blocks(
        spark.sparkContext, block_ids_of(pairs) | block_ids_of(comp)
    )
    # quality-aware keeper variant: keep the LONGEST member of each
    # component (ties to min id) — the keep-the-best-copy policy; the
    # oracle re-derives the argmax over the same closure labels
    from validate_xml_rust_spark.operators.dedup import quality_keepers

    scored = docs.select(
        F.col("doc_id").alias("id"),
        F.length(F.coalesce(F.col("text"), F.lit(""))).alias("__len"),
    )
    keep = quality_keepers(labels, scored, "id", "__len").select(
        F.col("id").cast("long").alias("id"),
        F.col("keeper").cast("long").alias("component"),
    )
    return labels.withColumn("variant", F.lit("min_label")).unionByName(
        keep.withColumn("variant", F.lit("quality_keeper"))
    )




ORACLE_NEAR_DEDUP_COMPONENTS = rf"""{_ORACLE_CC_LABELS},
ln2 AS (
  SELECT doc_id AS id, length(coalesce(text, '')) AS sc
  FROM '{_FIXTURES / "synthetic_docs_600.parquet"}'),
mx2 AS (
  SELECT lab.component, max(ln2.sc) AS mxs
  FROM lab JOIN ln2 USING (id) GROUP BY lab.component),
kp2 AS (
  SELECT lab.component, CAST(min(lab.id) AS BIGINT) AS keeper
  FROM lab JOIN ln2 USING (id)
  JOIN mx2 ON mx2.component = lab.component AND ln2.sc = mx2.mxs
  GROUP BY lab.component)
SELECT 'min_label' AS variant, id, component FROM lab
UNION ALL
SELECT 'quality_keeper', lab.id, kp2.keeper FROM lab JOIN kp2 USING (component)
"""




QUERIES = {
    "validate_verdicts": q_validate_verdicts,
    "validate_violations": q_validate_violations,
    "validate_summary": q_validate_summary,
    "profile_documents": q_profile_documents_suite,
    "profile_histograms": q_profile_histograms,
    "duplicate_custkeys": q_duplicate_custkeys_suite,
    "referential_orders": q_referential_orders,
    "pricing_summary": q_pricing_summary,
    "revenue_by_nation": q_revenue_by_nation,
    "events_hourly": q_events_hourly_suite,
    "fingerprints": q_fingerprint_suite,
    "text_metrics": q_text_metrics,
    "model_quality": q_model_quality_suite,
    "langid": q_langid_suite,
    "ann_topk": q_ann_suite,
    "embedding_neardup": q_embedding_neardup_suite,
    "neardup_pairs": q_neardup_pairs_suite,
    "incremental_dedup": q_incremental_dedup,
    "streaming_neardup": q_streaming_neardup,
    "streaming_first_seen": q_streaming_first_seen,
    "streaming_drift_psi": q_streaming_drift_suite,
    "top_orders_per_nation": q_top_orders_per_nation,
    "sessionization": q_sessionization,
    "rollup_order_priority": q_rollup_order_priority,
    "active_inactive_customers": q_active_inactive_customers,
    "temporal_joins": q_temporal_join_suite,
    "value_percentiles": q_value_percentiles,
    "event_props_json": q_event_props_json,
    "cube_order_stats": q_cube_order_stats,
    "pivot_status_by_priority": q_pivot_status_by_priority,
    "fd_violations": q_fd_violations,
    "profile_diff": q_profile_diff_suite,
    "drift_suite": q_drift_suite,
    "url_canonical_dups": q_url_policy_suite,
    "salted_event_stats": q_salted_event_stats,
    "resume_pending": q_resume_pending,
    "incremental_validate": q_incremental_validate_suite,
    "exit_codes": q_exit_codes,
    "source_plumbing": q_source_plumbing,
    "multimodal_features": q_multimodal_features,
    "content_sample": q_content_sample,
    "decontaminate": q_decontaminate_suite,
    "chunk_documents": q_chunk_documents_suite,
    "redact_pii": q_redact_pii,
    "strip_boilerplate": q_strip_boilerplate_suite,
    "pack_sequences": q_pack_sequences_suite,
    "curate_lineage": q_curate_lineage,
    "orchestrate_full": q_orchestrate_full,
    "pandas_checks": q_pandas_checks,
    "near_dedup_components": q_near_dedup_components,
}

ORACLES = {
    "validate_verdicts": ORACLE_VALIDATE_VERDICTS,
    "validate_violations": ORACLE_VALIDATE_VIOLATIONS,
    "validate_summary": ORACLE_VALIDATE_SUMMARY,
    "profile_documents": ORACLE_PROFILE_DOCUMENTS_SUITE,
    "profile_histograms": ORACLE_PROFILE_HISTOGRAMS,
    "duplicate_custkeys": ORACLE_DUPLICATE_CUSTKEYS_SUITE,
    "referential_orders": ORACLE_REFERENTIAL_ORDERS,
    "pricing_summary": ORACLE_PRICING_SUMMARY,
    "revenue_by_nation": ORACLE_REVENUE_BY_NATION,
    "events_hourly": ORACLE_EVENTS_HOURLY_SUITE,
    "fingerprints": ORACLE_FINGERPRINT_SUITE,
    "text_metrics": ORACLE_TEXT_METRICS,
    "model_quality": ORACLE_MODEL_QUALITY_SUITE,
    "langid": ORACLE_LANGID_SUITE,
    "ann_topk": ORACLE_ANN_SUITE,
    "embedding_neardup": ORACLE_EMBEDDING_NEARDUP_SUITE,
    "neardup_pairs": ORACLE_NEARDUP_PAIRS_SUITE,
    "incremental_dedup": ORACLE_INCREMENTAL_DEDUP,
    "streaming_neardup": ORACLE_STREAMING_NEARDUP,
    "streaming_first_seen": ORACLE_STREAMING_FIRST_SEEN,
    "streaming_drift_psi": ORACLE_STREAMING_DRIFT_SUITE,  # stream counts == batch stats
    "top_orders_per_nation": ORACLE_TOP_ORDERS_PER_NATION,
    "sessionization": ORACLE_SESSIONIZATION,
    "rollup_order_priority": ORACLE_ROLLUP_ORDER_PRIORITY,
    "active_inactive_customers": ORACLE_ACTIVE_INACTIVE_CUSTOMERS,
    "temporal_joins": ORACLE_TEMPORAL_JOIN_SUITE,
    "value_percentiles": ORACLE_VALUE_PERCENTILES,
    "event_props_json": ORACLE_EVENT_PROPS_JSON,
    "cube_order_stats": ORACLE_CUBE_ORDER_STATS,
    "pivot_status_by_priority": ORACLE_PIVOT_STATUS_BY_PRIORITY,
    "fd_violations": ORACLE_FD_VIOLATIONS,
    "profile_diff": ORACLE_PROFILE_DIFF_SUITE,
    "drift_suite": ORACLE_DRIFT_SUITE,
    "url_canonical_dups": ORACLE_URL_POLICY_SUITE,
    "salted_event_stats": ORACLE_SALTED_EVENT_STATS,
    "resume_pending": ORACLE_RESUME_PENDING,
    "incremental_validate": ORACLE_INCREMENTAL_VALIDATE_SUITE,
    "exit_codes": ORACLE_EXIT_CODES,
    "source_plumbing": ORACLE_SOURCE_PLUMBING,
    "multimodal_features": ORACLE_MULTIMODAL_FEATURES,
    "content_sample": ORACLE_CONTENT_SAMPLE,
    "decontaminate": ORACLE_DECONTAMINATE_SUITE,
    "chunk_documents": ORACLE_CHUNK_DOCUMENTS_SUITE,
    "redact_pii": ORACLE_REDACT_PII,
    "strip_boilerplate": ORACLE_STRIP_BOILERPLATE_SUITE,
    "pack_sequences": ORACLE_PACK_SEQUENCES_SUITE,
    "curate_lineage": ORACLE_CURATE_LINEAGE,
    "orchestrate_full": ORACLE_ORCHESTRATE_FULL,
    "pandas_checks": ORACLE_PANDAS_CHECKS,
    "near_dedup_components": ORACLE_NEAR_DEDUP_COMPONENTS,
}
