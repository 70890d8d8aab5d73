"""Resumable runs: completed-partition manifest + left-anti resume join.

The reference persists validated-schema state in a two-tier disk cache so a
re-run skips work (src/cache.rs:139-316, 371-500 — S9/J2 in SURVEY.md). The
engine's analog at table scale is a *checkpoint manifest*: after validating
a logical partition, append one manifest row; a resumed run left-anti joins
the input against the manifest and processes only the remainder.

With Iceberg available this would key on snapshot IDs
(``spark.read.format('iceberg')`` + snapshot expiry); the sandbox fallback
is a parquet manifest directory with run_id versioning — same contract,
same join shape. Each ``write_manifest`` first takes a snapshot id from the
directory's generation log (``manifest_dir/_log``, see ``genlog``; Spark's
parquet listing skips it), then appends its rows (append-mode parquet,
atomic at the file level; Iceberg would make the pair transactional).

Per-partition lineage + metrics rows (north_rule) are emitted alongside:
``partition_id, run_id, n_rows, n_valid, n_invalid, n_error, n_skipped,
n_violations, min_warc_ts, max_warc_ts, completed_at``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from validate_xml_rust_spark import genlog

MANIFEST_SCHEMA = (
    "partition_id int, run_id string, snapshot_id long, n_rows long, "
    "n_valid long, n_invalid long, n_error long, n_skipped long, "
    "n_violations long, n_carried long, completed_at timestamp"
)


def partition_metrics(verdicts: DataFrame, run_id: str) -> DataFrame:
    """One lineage/metrics row per logical partition (single aggregation).

    ``n_violations`` counts MATERIALIZED violation payload rows. In an
    incremental (``--prior``) run, carried-forward rows have empty
    violation arrays (the prior store keeps only the verdict triple), so
    that count covers the re-validated delta only and is NOT comparable
    to a full run's over the same data even when status counts match.
    ``n_carried`` makes the two distinguishable: the number of rows whose
    verdict was carried forward (0 in a full run — every row was
    materialized). Consumers comparing manifests across run modes must
    check ``n_carried == 0`` before treating n_violations as corpus-wide.
    Older manifests lack the column and read as NULL via mergeSchema."""
    carried = (
        F.sum((~F.col("revalidated")).cast("long"))
        if "revalidated" in verdicts.columns
        else F.lit(0).cast("long")
    )
    return (
        verdicts.groupBy("partition_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("status") == "valid", 1).otherwise(0)).alias("n_valid"),
            F.sum(F.when(F.col("status") == "invalid", 1).otherwise(0)).alias("n_invalid"),
            F.sum(F.when(F.col("status") == "error", 1).otherwise(0)).alias("n_error"),
            F.sum(F.when(F.col("status") == "skipped", 1).otherwise(0)).alias("n_skipped"),
            F.sum(F.size("violation_entries")).alias("n_violations"),
            carried.alias("n_carried"),
        )
        .withColumn("run_id", F.lit(run_id))
        .withColumn("completed_at", F.current_timestamp())
    )


def write_manifest(metrics: DataFrame, manifest_dir: str) -> int:
    """Append completed-partition rows as ONE snapshot generation (the
    "snapshot commit"); returns the committed snapshot_id. The id is
    taken from the generation log BEFORE the rows are written: a crash
    in between leaves a gap in the ids, and two concurrent writers never
    share one."""
    sid = genlog.append(manifest_dir, {"kind": "snapshot"})
    # cast: F.lit(python int) is INT32, MANIFEST_SCHEMA declares long —
    # mixed physical types in one parquet dir break schema-enforcing readers
    metrics.withColumn("snapshot_id", F.lit(sid).cast("long")).write.mode(
        "append"
    ).parquet(manifest_dir)
    return sid


def read_manifest(spark: SparkSession, manifest_dir: str) -> DataFrame | None:
    try:
        # mergeSchema: a manifest dir written before the snapshot_id column
        # existed gets new-schema files appended beside old ones; without
        # merging, the inferred schema comes from an ARBITRARY footer — an
        # old one hides snapshot_id. Merged, old rows read as NULL
        # snapshot_id. The manifest is O(partitions) files, so the footer
        # sweep is cheap.
        return spark.read.option("mergeSchema", "true").parquet(manifest_dir)
    except Exception as e:
        # ONLY missing-path/empty-dir (AnalysisException: PATH_NOT_FOUND /
        # UNABLE_TO_INFER_SCHEMA) means "no manifest yet". A transient IO
        # or permission error must NOT read as a fresh manifest — that
        # would re-validate completed partitions.
        from pyspark.errors import AnalysisException

        if isinstance(e, AnalysisException):
            return None  # no manifest yet → nothing completed
        raise


def completed_partitions(spark: SparkSession, manifest_dir: str) -> DataFrame | None:
    m = read_manifest(spark, manifest_dir)
    if m is None:
        return None
    return m.select("partition_id").distinct()


def pending_against(
    df: DataFrame, done: DataFrame, partition_col: str = "partition_id"
) -> DataFrame:
    """The resume join itself: rows whose partition is NOT in ``done``
    (broadcast left-anti — the completed-partition set is O(partitions),
    tiny by construction)."""
    return df.join(
        F.broadcast(done.select("partition_id")),
        df[partition_col] == done["partition_id"],
        "left_anti",
    )


def content_fingerprint(cols: list[str]) -> "F.Column":
    """Deterministic md5 content fingerprint over ``cols``. Each value is
    LENGTH-PREFIXED (``v<len>:<value>``, NULL → ``n``) before joining, so
    the encoding parses unambiguously left-to-right: no separator byte in
    a value can make two different column tuples collide (plain
    concat_ws would hash ('a\\x01b','c') and ('a','b\\x01c') the same),
    and NULL never collides with any string. Restatable in ANSI SQL
    (length() || ':' || value), so gates can cross-verify it."""
    parts = []
    for c in cols:
        s = F.col(c).cast("string")
        parts.append(
            F.when(s.isNull(), F.lit("n")).otherwise(
                F.concat(F.lit("v"), F.length(s).cast("string"), F.lit(":"), s)
            )
        )
    return F.md5(F.concat(*parts).cast("binary"))


class SnapshotSource:
    """The snapshot-diff seam: given the CURRENT corpus (already
    fingerprinted), split it into (matched, delta) —

    - ``matched``: current rows whose (id, fingerprint) pair exists in the
      prior snapshot, each carrying the prior verdict payload columns
      (``spec_id, status, error_count``) plus any requested
      ``carry_cols`` from the current row;
    - ``delta``: the remaining current rows, untouched (full schema).

    ``ParquetSnapshotSource`` below is the engine-agnostic sandbox
    implementation (two joins on the uniform (id, fp) key). An Iceberg
    implementation of this same interface replaces the anti-join with the
    table's incremental snapshot-diff scan (`incremental read between
    prior and current snapshot ids): the delta arrives directly from
    changed data files and the matched side becomes a partition-pruned
    read — ``incremental_verdicts`` and its gate are unchanged because
    they consume only this (matched, delta) contract. Reference analog:
    the two-tier cache get that skips files whose mtime+hash match
    (src/cache.rs:403-421)."""

    def split(
        self, cur: DataFrame, carry_cols: list[str]
    ) -> tuple[DataFrame, DataFrame]:
        raise NotImplementedError


class ParquetSnapshotSource(SnapshotSource):
    """Join-based snapshot diff over a prior verdict store frame with
    schema ``(id_col, fp_col, spec_id, status, error_count)``."""

    def __init__(
        self, prior: DataFrame, id_col: str = "url", fp_col: str = "content_fp"
    ) -> None:
        self.id_col, self.fp_col = id_col, fp_col
        payload = [id_col, fp_col, "spec_id", "status", "error_count"]
        # defensive dedupe: a prior with duplicate (id, fp) rows — e.g. the
        # previous run's output over an input with planted duplicate ids —
        # would multiply the reuse join (2 cur × 2 prior = 4). Same-key rows
        # carry the same verdict by the invariant, so keeping one is lossless.
        self.prior_u = prior.select(*payload).dropDuplicates([id_col, fp_col])

    def split(
        self, cur: DataFrame, carry_cols: list[str]
    ) -> tuple[DataFrame, DataFrame]:
        id_col, fp_col = self.id_col, self.fp_col
        matched = (
            cur.select(id_col, fp_col, *carry_cols)
            .join(self.prior_u, on=[id_col, fp_col], how="inner")
        )
        # NULL ids never match the reuse join (SQL equality), so they always
        # land in the delta and re-validate — correct: an unidentifiable row
        # has no carry-forward key, but it MUST still be verdicted (url
        # not-null violations are exactly what a validator reports).
        delta = cur.join(
            self.prior_u.select(id_col, fp_col),
            on=[id_col, fp_col], how="left_anti",
        )
        return matched, delta


def incremental_verdicts(
    new_df: DataFrame,
    prior: DataFrame,
    spark: SparkSession,
    registry,
    fingerprint_cols: list[str],
    id_col: str = "url",
    fp_col: str = "content_fp",
    full_output: bool = False,
    source: SnapshotSource | None = None,
    keep_cols: list[str] | None = None,
    **validate_kw,
) -> DataFrame:
    """Row-level snapshot-diff validation: rows whose (id, content
    fingerprint) match a prior snapshot's verdict CARRY IT FORWARD;
    only new or changed rows re-validate.

    ``prior`` schema: ``(id_col, fp_col, spec_id, status, error_count)``
    — the output of a previous call (or any verdicts frame joined with
    its fingerprints), so runs chain: today's output is tomorrow's prior.
    Output adds ``revalidated`` (false = carried forward).

    ``full_output=True`` additionally carries ``partition_id`` (when
    ``new_df`` has one), ``error_details`` and ``violation_entries`` —
    what report sinks, per-partition manifest metrics, and verdict
    parquet writes need. Re-validated rows carry their real details;
    carried-forward rows get EMPTY details/violations (the prior store
    keeps only the verdict triple — status counts stay exact, violation
    payloads exist only for the delta).

    Invariant (gate-verified): carried-forward verdicts are IDENTICAL to
    what a full re-validation would produce — incremental is purely an
    execution optimization, never a semantics change.

    Scale shape: the reuse join and the anti-join both key on the uniform
    (id, fingerprint) pair — sort-merge over co-partitioned shuffles, no
    skew (ids are unique). The expensive constraint suite runs ONLY on
    the delta. Break-even: the two joins must cost less than re-validating
    the matched rows — true when validation is expensive (pandas-check
    suites, per-row spec fetches), NOT for a pure expression suite on one
    box (bench incremental_validate_pages shows that honestly).

    The snapshot diff itself goes through the ``SnapshotSource`` seam:
    ``source=None`` uses ``ParquetSnapshotSource`` (two joins); an
    Iceberg deployment passes a source whose ``split`` reads the table's
    incremental snapshot-diff scan — the delta arrives directly from
    changed data files, the anti-join disappears — and everything
    downstream (carry-forward, surrogate-key validation, the gate
    oracle) is untouched (reference analog src/cache.rs:139-316, which
    skips re-validating files whose mtime+hash match the cache).
    """
    from validate_xml_rust_spark.operators.validate import validate

    cur = new_df.withColumn(fp_col, content_fingerprint(fingerprint_cols))
    payload = [id_col, fp_col, "spec_id", "status", "error_count"]
    has_pid = full_output and "partition_id" in new_df.columns
    pid_cols = ["partition_id"] if has_pid else []
    # keep_cols: payload columns carried through BOTH branches verbatim
    # (carried rows take them off cur via the seam; fresh rows ride
    # validate()'s keep_cols passthrough) — quarantine sinks need them
    keep = [c for c in (keep_cols or []) if c not in (id_col, fp_col)]
    if source is None:
        source = ParquetSnapshotSource(prior, id_col=id_col, fp_col=fp_col)
    matched, delta = source.split(cur, carry_cols=pid_cols + keep)
    reused = matched.select(*payload, *pid_cols, *keep).withColumn(
        "revalidated", F.lit(False)
    )
    if full_output:
        from validate_xml_rust_spark.operators.validate import _empty_violations

        reused = reused.withColumn(
            "error_details", F.array().cast("array<string>")
        ).withColumn("violation_entries", _empty_violations())
    # Thread (id, fp) THROUGH validate() as a composite surrogate key
    # instead of joining verdicts back on id — an id-only join-back drops
    # NULL-id verdicts (NULL != NULL) and cross-multiplies duplicate ids
    # whose two contents both sit in the delta. The fp is a fixed 32-char
    # hex suffix, so the split-back is position-based and immune to any
    # bytes the id itself contains.
    delta_k = delta.withColumn(
        "__ikey",
        F.concat(
            F.coalesce(F.col(id_col).cast("string"), F.lit("\x00")), F.col(fp_col)
        ),
    )
    res = validate(
        delta_k, spark, registry, id_col="__ikey", keep_cols=keep or None,
        **validate_kw,
    )
    raw_id = F.expr("substring(__ikey, 1, length(__ikey) - 32)")
    full_cols = (
        pid_cols + ["error_details", "violation_entries"] if full_output else []
    ) + keep
    fresh = (
        res.verdicts.select(
            F.col("url").alias("__ikey"), "spec_id", "status", "error_count",
            *full_cols,
        )
        .withColumn(
            id_col,
            F.when(raw_id == "\x00", F.lit(None).cast("string")).otherwise(raw_id),
        )
        .withColumn(fp_col, F.substring(F.col("__ikey"), -32, 32))
        .select(*payload, *full_cols)
        .withColumn("revalidated", F.lit(True))
    )
    # ids pass through the composite key as strings; normalize the reused
    # branch so both sides union with one id type (the contract key is a
    # url/doc-key string anyway)
    reused = reused.withColumn(id_col, F.col(id_col).cast("string"))
    return reused.unionByName(fresh)
