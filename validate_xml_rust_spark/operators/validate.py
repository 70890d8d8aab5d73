"""Core validation operator: spec resolution → per-row 4-state verdicts.

Mirrors the reference's per-file pipeline (src/validator.rs:605-731) with the
exact status precedence:

1. ``skipped``  — no spec resolves for the row (no ``xsi:schemaLocation``
                  analog; src/validator.rs:626-643) — checked FIRST,
2. ``error``    — a spec is referenced but missing from the registry
                  (unloadable schema, src/validator.rs:1084-1099) or an
                  ``error``-severity check fired (unreadable document,
                  src/validator.rs:659-663, 699-730),
3. ``invalid``  — ≥1 ``invalid``-severity check failed; ``error_count`` =
                  number of failures (src/validator.rs:713-719),
4. ``valid``.

Physical shape (idiomatic Spark, no Python in the hot path):
- spec resolution = LEFT broadcast-hash join against the tiny routes
  dimension (SURVEY.md §2.3 J1; ``.explain`` shows BroadcastHashJoin),
- all checks = Column expressions inside one whole-stage-codegen'd project,
- the per-spec dispatch = a CASE WHEN chain over spec_id (specs are compiled
  once on the driver — X2 — and live in the serialized plan),
- violations = explode of the per-row failed-check array.

One narrow stage end-to-end: scan → join(broadcast) → project. No shuffle
until the summary aggregation.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from validate_xml_rust_spark import colcache
from validate_xml_rust_spark.session import local_frame
from validate_xml_rust_spark.specs import SpecRegistry, compiled_spec

VIOLATION_STRUCT = (
    "array<struct<constraint_id:string,observed_value:string,"
    "message:string,severity:string>>"
)

SKIP_MSG = "No spec resolved for row"  # analog of "No schema URL found in XML file"
EXTRACT_ERR_MSG = "failed to extract spec reference from document"

SPEC_META_PATTERN = r'<meta\s+name="spec"\s+content="([^"]+)"'
PROLOGUE_BYTES = 2048


def _empty_violations() -> Column:
    return F.expr("array()").cast(VIOLATION_STRUCT)


def extract_spec_ref(
    html_col: Column, prologue_bytes: int = PROLOGUE_BYTES
) -> tuple[Column, Column]:
    """Extract the in-document spec reference — the engine's
    ``xsi:schemaLocation`` (reference src/schema_loader.rs:63-102, regexes
    at :20/:28), with the reference's early-stop optimization: only the
    document prologue is scanned (src/schema_loader.rs:89-93 stops at the
    first closing tag; here ``substring(html, 1, K)`` bounds the regex to
    the first K bytes — X1 in SURVEY.md §4).

    Returns ``(spec_id, extract_failed)``:
    - unreadable document (null / not valid UTF-8) → (null, true) — the
      reference turns extractor errors into ``Error`` verdicts,
    - readable but no reference found → (null, false) → ``Skipped``
      (src/validator.rs:626-643),
    - first match wins (P3 first-schema-only, src/validator.rs:625).

    The prologue is cleaned with ``make_valid_utf8`` before the regex so a
    multi-byte character truncated at the K-byte boundary can't poison an
    otherwise-valid document; readability is judged on the FULL column.
    """
    readable = html_col.isNotNull() & F.is_valid_utf8(html_col) & (F.length(html_col) > 0)
    head = F.make_valid_utf8(F.substring(html_col, 1, prologue_bytes))
    m = F.regexp_extract(head, SPEC_META_PATTERN, 1)
    spec_id = F.when(readable & (m != ""), m)
    return spec_id, ~readable


def resolve_spec(
    df: DataFrame,
    spark: SparkSession,
    registry: SpecRegistry,
    route_col: str = "lang",
    override_spec_id: str | None = None,
) -> DataFrame:
    """Attach ``spec_id`` to every row.

    Global override (the ``--schema`` flag, src/validator.rs:613-618) wins
    over per-row routing; otherwise the row's ``route_col`` value is looked
    up in the routes dimension via an explicit broadcast join."""
    if override_spec_id is not None:
        return df.withColumn("spec_id", F.lit(override_spec_id))
    if not registry.routes:
        return df.withColumn("spec_id", F.lit(None).cast("string"))
    keys, spec_ids = zip(*sorted(registry.routes.items()))
    routes_df = local_frame(
        spark, "route_key string, spec_id string",
        {"route_key": list(keys), "spec_id": list(spec_ids)},
    )
    return df.join(
        F.broadcast(routes_df), df[route_col] == routes_df["route_key"], "left"
    ).drop("route_key")


@dataclass
class ValidationResult:
    """Verdicts + derived views (violations, summary are lazy DataFrames)."""

    verdicts: DataFrame

    def violations(self) -> DataFrame:
        """Violation rows ``(url, constraint_id, observed_value, message)``
        — the north-star contract. Explode is a narrow op (no shuffle)."""
        explode, fields = _violation_columns()
        return self.verdicts.select(*explode).select(*fields)


def validate(
    df: DataFrame,
    spark: SparkSession,
    registry: SpecRegistry,
    route_col: str = "lang",
    override_spec_id: str | None = None,
    id_col: str = "url",
    partition_col: str | None = "partition_id",
    route_mode: str = "column",
    html_col: str = "html",
    keep_cols: list[str] | None = None,
) -> ValidationResult:
    """Run every compiled row-scope check; emit the verdict DataFrame:

    ``url, partition_id, spec_id, status, error_count, error_details,
    violation_entries`` (+ any ``keep_cols`` passed through verbatim —
    payload columns a downstream sink needs alongside the verdict, e.g.
    quarantine routing, with no join-back and therefore no NULL-id or
    duplicate-id hazards).

    ``route_mode``:
    - ``"column"``  — spec resolved by joining ``route_col`` against the
      registry's routes (broadcast join, J1),
    - ``"content"`` — spec reference extracted from the document itself
      (the reference's actual behavior: per-file ``xsi:schemaLocation``,
      P1/X1); an unreadable document is an ``error``, a document without
      a reference is ``skipped``. ``override_spec_id`` wins over both
      (the ``--schema`` flag semantics, src/validator.rs:613-618).
    """
    # compile first (once per distinct spec per session): a bad spec fails
    # here, before any plan is built, and the compile is a step of its own
    registry.compiled()
    if partition_col is None or partition_col not in df.columns:
        df = df.withColumn("partition_id", F.lit(0))
        partition_col = "partition_id"

    if route_mode == "content" and override_spec_id is None:
        resolved = df.withColumns(_extract_columns(html_col))
    else:
        resolved = resolve_spec(df, spark, registry, route_col, override_spec_id)
        resolved = resolved.withColumn("__extract_failed", F.lit(False))

    keep = tuple(c for c in (keep_cols or []) if c not in (id_col, partition_col))
    viol, cols = _verdict_columns(registry.content_key(), id_col, partition_col, keep)
    verdicts = resolved.withColumn("all_entries", viol).select(*cols)
    return ValidationResult(verdicts=verdicts)


@colcache.per_context
def _violation_columns() -> tuple[tuple[Column, ...], tuple[Column, ...]]:
    return (
        (F.col("url"), F.col("partition_id"),
         F.explode("violation_entries").alias("v")),
        (
            F.col("url"),
            F.col("partition_id"),
            F.col("v.constraint_id").alias("constraint_id"),
            F.col("v.observed_value").alias("observed_value"),
            F.col("v.message").alias("message"),
        ),
    )


@colcache.per_context
def _extract_columns(html_col: str) -> dict[str, Column]:
    sid, failed = extract_spec_ref(F.col(html_col))
    return {"spec_id": sid, "__extract_failed": failed}


@colcache.per_context
def _verdict_columns(
    specs: tuple, id_col: str, partition_col: str, keep_cols: tuple[str, ...]
) -> tuple[Column, tuple[Column, ...]]:
    """The verdict Columns of a registry whose specs have content ``specs``
    (``SpecRegistry.content_key()``): the per-spec CASE chain of violation
    arrays over ``spec_id`` (applied first, as ``all_entries``), then the
    verdict projection. Built once per content and column names."""
    compiled = {sid: compiled_spec(sid, cons) for sid, cons in specs}
    known_ids = sorted(compiled)
    if known_ids:
        chain = None
        for sid in known_ids:
            arr = compiled[sid].violations_array()
            cond = F.col("spec_id") == sid
            chain = F.when(cond, arr) if chain is None else chain.when(cond, arr)
        viol = chain.otherwise(F.lit(None).cast(VIOLATION_STRUCT))
    else:
        viol = F.lit(None).cast(VIOLATION_STRUCT)

    spec_known = F.col("spec_id").isin(known_ids) if known_ids else F.lit(False)

    err_entries = F.filter(F.col("all_entries"), lambda x: x["severity"] == "error")
    inv_entries = F.filter(F.col("all_entries"), lambda x: x["severity"] == "invalid")

    status = (
        F.when(F.col("__extract_failed"), F.lit("error"))
        .when(F.col("spec_id").isNull(), F.lit("skipped"))
        .when(~spec_known, F.lit("error"))
        .when(F.size(err_entries) > 0, F.lit("error"))
        .when(F.size(inv_entries) > 0, F.lit("invalid"))
        .otherwise(F.lit("valid"))
    )
    # error_count only meaningful for invalid (Invalid{error_count}); 0 else.
    error_count = F.when(status == "invalid", F.size(inv_entries)).otherwise(F.lit(0))
    detail_fmt = lambda x: F.concat_ws(": ", x["constraint_id"], x["message"])  # noqa: E731
    error_details = (
        F.when(F.col("__extract_failed"), F.array(F.lit(EXTRACT_ERR_MSG)))
        .when(status == "skipped", F.array(F.lit(SKIP_MSG)))
        .when(
            ~spec_known & F.col("spec_id").isNotNull(),
            F.array(F.concat(F.lit("spec not found in registry: "), F.col("spec_id"))),
        )
        .when(status == "error", F.transform(err_entries, detail_fmt))
        .when(status == "invalid", F.transform(inv_entries, detail_fmt))
        .otherwise(F.expr("array()").cast("array<string>"))
    )
    # Violation rows carry BOTH severities (an error row still reports what
    # fired); skipped/missing-spec rows have none.
    violation_entries = F.coalesce(F.col("all_entries"), _empty_violations())
    return viol, (
        F.col(id_col).alias("url"),
        F.col(partition_col).alias("partition_id"),
        F.col("spec_id"),
        status.alias("status"),
        error_count.cast("int").alias("error_count"),
        error_details.alias("error_details"),
        violation_entries.alias("violation_entries"),
        *[F.col(c) for c in keep_cols],
    )
