"""Deterministic synthetic Common-Crawl-style pages table.

Exact shape from BASELINE.json ``input_hint``:
``(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)``.

Generated entirely from ``spark.range`` + Column expressions — no driver
data, no Python rows, no shuffle — so the same generator that makes 2k rows
for pytest makes 10^9 rows on a cluster (embarrassingly parallel, one
narrow stage; the reference's directory walk S1 is likewise a pure source).

Everything is a pure function of ``id`` (+ fixed SEED via xxhash64), so the
planted-violation sets are exactly reproducible in Python (`expected_counts`)
for golden assertions, mirroring the reference's deterministic temp-file
fixtures (src/file_discovery.rs:252-286, src/validator.rs:1041-1141).

Planted violations (modulus schedule, precedence = listed order):

- dup url       : id % 101 == 0 and id > 0  → row reuses url of id-1 (A10)
- null url      : eff % 997 == 0            → url IS NULL (not_null)
- malformed url : eff % 499 == 0            → fails ^https?:// (regex)
- bad utf-8 html: id % 641 == 0             → 0xFF prefix (utf8 → error)
- empty html    : id % 1013 == 0            → zero-length binary (length)
- text mismatch : id % 1201 == 0            → stored text != extract(html)
- null warc_ts  : id % 773 == 0
- out-of-range  : id % 881 == 0             → year 2035 (range)
- lang off-enum : id % 419 == 0             → 'xx' (no route → skipped)
- null lang     : id % 887 == 0             → NULL (no route → skipped)

Host skew: ~40% of urls land on one hot host (Zipf-ish head) to exercise
salting (north_rule: "skew salting on hot url-host keys").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from validate_xml_rust_spark.functions.text_extract import extract_text_from_html_str

SEED = 42
BASE_EPOCH = 1735689600  # 2025-01-01T00:00:00Z
YEAR_SECONDS = 31536000
LANGS = ["en", "de", "fr", "es", "zh"]
HOT_HOST = "hot.example.com"
WARM_HOST = "static.example.org"


def _h(col, salt: int):
    """Deterministic non-negative 63-bit hash (xxhash64 is stable across
    runs/versions for a given input, unlike Python's hash)."""
    return F.abs(F.xxhash64(col.cast("string"), F.lit(SEED), F.lit(salt)))


def pages(
    spark: SparkSession, n_rows: int, n_partitions: int | None = None
) -> DataFrame:
    """Build the synthetic pages DataFrame with planted violations."""
    df = spark.range(0, n_rows, 1, n_partitions or spark.sparkContext.defaultParallelism)
    i = F.col("id")

    # Duplicate urls: the dup row recomputes EVERYTHING url-ish from id-1.
    eff = F.when((i % 101 == 0) & (i > 0), i - 1).otherwise(i)

    hpick = _h(eff, 1) % 100
    host = (
        F.when(hpick < 40, F.lit(HOT_HOST))
        .when(hpick < 65, F.lit(WARM_HOST))
        .otherwise(F.concat(F.lit("site-"), (_h(eff, 2) % 1000).cast("string"), F.lit(".example.net")))
    )
    clean_url = F.concat(F.lit("https://"), host, F.lit("/page/"), eff.cast("string"))
    url = (
        F.when(eff % 997 == 0, F.lit(None).cast("string"))
        .when(eff % 499 == 0, F.concat(F.lit("not-a-url-"), eff.cast("string")))
        .otherwise(clean_url)
    )

    # warc_ts
    ts_off = _h(i, 3) % YEAR_SECONDS
    warc_ts = (
        F.when(i % 773 == 0, F.lit(None).cast("timestamp"))
        .when(i % 881 == 0, F.timestamp_seconds(F.lit(BASE_EPOCH + 10 * YEAR_SECONDS)))
        .otherwise(F.timestamp_seconds(F.lit(BASE_EPOCH) + ts_off))
    )

    # lang
    lang = (
        F.when(i % 887 == 0, F.lit(None).cast("string"))
        .when(i % 419 == 0, F.lit("xx"))
        .otherwise(F.element_at(F.array(*[F.lit(x) for x in LANGS]), (_h(i, 4) % 5 + 1).cast("int")))
    )

    # html: deterministic body varying by eff. Most rows carry an in-document
    # spec reference (the xsi:schemaLocation analog, reference
    # src/schema_loader.rs:63-102): <meta name="spec" content="...">.
    # i % 359 == 0 rows omit it (→ skipped under content routing);
    # i % 523 == 0 rows reference a spec that doesn't exist (→ error).
    spec_meta = (
        F.when(i % 359 == 0, F.lit(""))
        .when(i % 523 == 0, F.lit('<meta name="spec" content="ghost-spec-v9"/>'))
        .otherwise(F.lit('<meta name="spec" content="webpage-v1"/>'))
    )
    filler = F.repeat(F.lit("lorem ipsum dolor sit amet "), (_h(eff, 5) % 5 + 1).cast("int"))
    html_str = F.concat(
        F.lit("<html><head><title>Page "), eff.cast("string"),
        F.lit("</title>"), spec_meta,
        F.lit("<script>var x=1;</script></head><body><h1>Doc "),
        eff.cast("string"), F.lit("</h1><p>"), filler,
        F.lit("</p></body></html>"),
    )
    html = (
        F.when(i % 1013 == 0, F.encode(F.lit(""), "UTF-8"))
        .when(i % 641 == 0, F.concat(F.unhex(F.lit("FF")), F.encode(html_str, "UTF-8")))
        .otherwise(F.encode(html_str, "UTF-8"))
    )

    # text: ground-truth extraction, with planted mismatches
    true_text = extract_text_from_html_str(html_str)
    text = F.when(i % 1201 == 0, F.concat(true_text, F.lit(" <<corrupted>>"))).otherwise(
        true_text
    )

    return df.select(
        url.alias("url"),
        warc_ts.alias("warc_ts"),
        html.alias("html"),
        text.alias("text"),
        lang.alias("lang"),
    )


def with_partition_id(df: DataFrame, num_partitions: int = 32) -> DataFrame:
    """Derive the logical partition key: hash of url host mod P (FIXTURES.md
    §1). Null/malformed urls fall into partition 0 deterministically."""
    host = F.parse_url(F.col("url"), F.lit("HOST"))
    pid = F.pmod(F.xxhash64(F.coalesce(host, F.lit(""))), F.lit(num_partitions))
    return df.withColumn("partition_id", pid.cast("int"))


# ---------------------------------------------------------------------------
# Pure-Python mirror (golden fixture math for pytest)
# ---------------------------------------------------------------------------

def py_row_kinds(n_rows: int) -> dict[str, int]:
    """Expected planted counts, computed independently of Spark.

    Only the modulus schedule is mirrored (not the hashes), which is enough
    for the planted-violation golden counts."""
    counts = {
        "dup_url": 0, "null_url": 0, "malformed_url": 0, "bad_utf8": 0,
        "empty_html": 0, "text_mismatch": 0, "null_ts": 0, "oor_ts": 0,
        "lang_off_enum": 0, "null_lang": 0,
    }
    for i in range(n_rows):
        eff = i - 1 if (i % 101 == 0 and i > 0) else i
        if i % 101 == 0 and i > 0:
            counts["dup_url"] += 1
        if eff % 997 == 0:
            counts["null_url"] += 1
        elif eff % 499 == 0:
            counts["malformed_url"] += 1
        if i % 1013 == 0:
            counts["empty_html"] += 1
        elif i % 641 == 0:
            counts["bad_utf8"] += 1
        if i % 1201 == 0:
            counts["text_mismatch"] += 1
        if i % 773 == 0:
            counts["null_ts"] += 1
        elif i % 881 == 0:
            counts["oor_ts"] += 1
        if i % 887 == 0:
            counts["null_lang"] += 1
        elif i % 419 == 0:
            counts["lang_off_enum"] += 1
    return counts

