"""Verdict aggregation + exit-code contract.

Mirrors ``ValidationResults::aggregate`` (reference src/validator.rs:258-323)
and the exit ladder (src/main.rs:113-119). One shuffle: a single hash
aggregation with map-side partial aggregation (Spark's HashAggregate does
the partial/final split automatically — the reference's single-pass fold
A1-A6 becomes partial folds per partition + a final merge)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _status_sum(status: str):
    # coalesce → 0 so an empty input yields zero counts, not nulls
    # (empty-input contract: src/validator.rs:983-991)
    return F.coalesce(
        F.sum(F.when(F.col("status") == status, 1).otherwise(0)), F.lit(0)
    )


def summarize(verdicts: DataFrame, by: list[str] | None = None) -> DataFrame:
    """Counts per 4-state status + success rate + distinct specs used.

    ``by=None`` → one global row (the reference's ValidationResults);
    ``by=['partition_id']`` → per-partition pass/fail rows (north_rule)."""
    keys = by or []
    agg = (verdicts.groupBy(*keys) if keys else verdicts.groupBy()).agg(
        F.count(F.lit(1)).alias("total"),
        _status_sum("valid").alias("valid"),
        _status_sum("invalid").alias("invalid"),
        _status_sum("error").alias("error"),
        _status_sum("skipped").alias("skipped"),
        F.coalesce(F.sum("error_count"), F.lit(0)).alias("total_error_count"),
        F.sort_array(
            F.filter(F.collect_set("spec_id"), lambda x: x.isNotNull())
        ).alias("schemas_used"),
    )
    # success_rate: valid/total*100, 0.0 on empty — src/validator.rs:346-352.
    rate = F.when(
        F.col("total") > 0, F.col("valid") / F.col("total") * 100.0
    ).otherwise(F.lit(0.0))
    out = agg.withColumn("success_rate", rate)
    # all_valid / has_errors predicates (src/validator.rs:336-343)
    out = out.withColumn("all_valid", F.col("valid") == F.col("total")).withColumn(
        "has_errors", (F.col("error") > 0) | (F.col("invalid") > 0)
    )
    return out


def partition_pass_fail(verdicts: DataFrame) -> DataFrame:
    """Per-partition pass/fail verdict (north_rule: "the reference's exact
    per-partition pass/fail"): a partition passes iff every row in it is
    valid or skipped (skipped is a non-failure in the reference: exit code
    0 when only valid+skipped, src/main.rs:113-119)."""
    s = summarize(verdicts, by=["partition_id"])
    return s.withColumn(
        "passed", (F.col("invalid") == 0) & (F.col("error") == 0)
    ).orderBy("partition_id")


def exit_code(summary_row: dict, fail_fast: bool = False) -> int:
    """Exact exit ladder of src/main.rs:113-119:

    fail_fast & has_errors → 1; error rows → 2; invalid rows → 3; else 0.
    (The reference consults fail_fast only after the full run — no mid-run
    abort — and we replicate that faithfully, SURVEY.md §7.) Table-scope
    violations (``table_violations``, when the row carries it) count like
    invalid rows."""
    invalid = summary_row["invalid"] + summary_row.get("table_violations", 0)
    if fail_fast and (summary_row["error"] > 0 or invalid > 0):
        return 1
    if summary_row["error"] > 0:
        return 2
    if invalid > 0:
        return 3
    return 0


def verdict_diff(
    old_verdicts: DataFrame,
    new_verdicts: DataFrame,
    id_col: str = "url",
) -> DataFrame:
    """Row-level verdict regression diff between two validation runs over
    overlapping ids — the continuous-validation complement to
    ``profile_diff`` (metric drift) and ``incremental_verdicts``
    (carry-forward): which rows CHANGED status, which are new, which
    disappeared.

    Output per changed row: ``(id, old_status, new_status, transition)``
    where transition is ``regressed`` (valid → non-valid), ``fixed``
    (non-valid → valid), ``changed`` (non-valid → different non-valid),
    ``added`` (id only in the new run), ``removed`` (id only in the
    old run). Unchanged rows are dropped — on a healthy corpus the diff
    is tiny next to the runs.

    NULL-id rows carry no stable identity across runs and are excluded
    (SQL equality can't match them; the snapshot-diff machinery treats
    them the same way). Duplicate ids (planted dup urls are part of the
    corpus model) reduce DETERMINISTICALLY to their worst status
    (error > invalid > skipped > valid) — an arbitrary pick would make
    transitions flap across executions and break diff(x, x) == empty.

    The function accepts ARBITRARY verdict frames (parquet written by
    older runs included), so statuses outside the 4-state vocabulary must
    not poison the job: a status string not in the severity array — or a
    NULL status (normalized to the literal ``'unknown'``) — ranks WORSE
    than ``error`` (an unclassifiable verdict is the most alarming kind)
    and flows through the diff with its own label preserved. Rank ties
    between distinct unknown labels break on the status string itself, so
    the reduction stays deterministic. (Previously an unknown status made
    ``array_position`` return 0 and ``element_at(_, 0)`` threw at
    runtime; an all-NULL-status id was mislabeled added/removed.)

    Scale shape: one full-outer sort-merge join on the uniform id key —
    co-partitioned shuffles, no skew (ids reduce to one row per run);
    the output is filtered to changes before anything downstream runs.
    """
    sev = ["valid", "skipped", "invalid", "error"]  # ascending badness
    status_s = F.coalesce(F.col("status").cast("string"), F.lit("unknown"))
    pos = F.array_position(F.array(*[F.lit(x) for x in sev]), status_s)
    # array_position yields 0 for a status outside the vocabulary — map it
    # (and NULL→'unknown') past the end of the array: worst possible rank
    rank = F.when(pos > 0, pos).otherwise(F.lit(len(sev) + 1))

    def one_per_id(v: DataFrame, alias: str) -> DataFrame:
        # worst-of-duplicates with the LABEL carried in the reduction
        # itself (max over (rank, status) structs — lexicographic), so no
        # rank→label back-mapping exists to crash on out-of-vocabulary
        # ranks, and unknown labels survive to the transition output
        return (
            v.filter(F.col(id_col).isNotNull())
            .select(
                F.col(id_col).alias("__id"),
                F.struct(rank.alias("r"), status_s.alias("s")).alias("__rs"),
            )
            .groupBy("__id")
            .agg(F.max("__rs").alias("__rs"))
            .select("__id", F.col("__rs.s").alias(alias))
        )

    o = one_per_id(old_verdicts, "old_status")
    n = one_per_id(new_verdicts, "new_status")
    j = o.join(n, "__id", "full_outer")
    old_ok = F.col("old_status") == "valid"
    new_ok = F.col("new_status") == "valid"
    transition = (
        F.when(F.col("old_status").isNull(), "added")
        .when(F.col("new_status").isNull(), "removed")
        .when(old_ok & ~new_ok, "regressed")
        .when(~old_ok & new_ok, "fixed")
        .otherwise("changed")
    )
    return (
        j.filter(
            F.col("old_status").isNull()
            | F.col("new_status").isNull()
            | (F.col("old_status") != F.col("new_status"))
        )
        .select(
            F.col("__id").alias(id_col),
            "old_status",
            "new_status",
            transition.alias("transition"),
        )
    )
