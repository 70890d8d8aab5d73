"""Full-run orchestration: row-scope verdicts + spec-declared table-scope
constraints in one call.

A spec may declare ``unique`` / ``referential`` / ``drift`` constraints
(FIXTURES.md §2: ``url_unique``, ``host_in_registry``, ``lang_dist_drift``).
Row-scope checks compile to Column expressions (operators/validate.py);
table-scope checks need a shuffle or a join and are dispatched here to
their operators, with violations unioned into one violations DataFrame
(`unionByName` — the engine's deliberate Spark-first combination step,
SURVEY.md §2.5 E1).

Context objects supply what table checks need:
- ``ref_tables``: name → parent DataFrame (referential parents, e.g. a
  host registry),
- ``baselines``: column → baseline (dict of category counts for chi²,
  sorted numpy sample for KS).

Constraint params:
- unique:      {"keys": [col, ...]}                  (default [column])
- referential: {"ref_table": name, "parent_key": col | [col, ...],
  "key_expr": sql?, "child_keys": [col, ...]?} — composite keys pair
  child_keys/parent_key positionally; key_expr (a derived single key)
  and child_keys are mutually exclusive
- drift:       {"test": "chi2"|"ks"|"psi", "alpha": 0.05, "threshold": 0.2}
- fd:          {"determinant": [col, ...], "dependent": col}
- contamination: {"benchmark": name, "n": 8, "max_hits": 0} — fixed-n;
  add {"primary_n": 13, "min_n": 5} to run the GPT-3/PaLM n-gram-length
  sweep instead (short benchmark entries matched as exact substrings)
- host_quality: {"group_col": col?, "min_mean_quality": 0.5,
  "min_docs": 1, "quality_col": col?} — per-host mean-quality keep/drop
  via the salted aggregation (operators/hostquality.py); add
  {"domain_col": col, "domain_min_mean_quality"?, "domain_min_docs"?}
  for the domain→host rollup (violations at both grains from one corpus
  shuffle, domain rows as constraint_id@domain_col)
- shared_passage: {"min_run": 8, "max_spans": 0} — flag docs containing
  cross-document shared passages of >= min_run tokens (the detector
  twin of dedup.excise_shared_passages; winnow-prefiltered marking)
- lm_quality: {"ref_table": name, "max_log_ppl": 10.0, "alpha": 0.1,
  "ref_text_col": "text"} — flag docs whose add-α bigram-LM
  log-perplexity against the reference table exceeds the budget
  (CCNet-style; the validator twin of the pipeline's max_log_ppl filter)
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from validate_xml_rust_spark.colcache import per_context
from validate_xml_rust_spark.operators.validate import ValidationResult, validate
from validate_xml_rust_spark.specs import Constraint, SpecRegistry

VIOLATION_COLS = ["url", "constraint_id", "observed_value", "message"]


@dataclass
class TableContext:
    ref_tables: dict[str, DataFrame] = field(default_factory=dict)
    baselines: dict[str, object] = field(default_factory=dict)


def _table_violations_for(
    df: DataFrame,
    c: Constraint,
    ctx: TableContext,
    id_col: str,
    partition_col: str,
    ckpt_ids: set | None = None,
) -> DataFrame:
    if c.kind == "unique":
        from validate_xml_rust_spark.operators.uniqueness import (
            uniqueness_violations,
        )

        keys = c.params.get("keys", [c.column])
        v = uniqueness_violations(
            df, keys, constraint_id=c.constraint_id, id_col=id_col
        )
        return v.select(*VIOLATION_COLS)
    if c.kind == "referential":
        from validate_xml_rust_spark.operators.referential import (
            referential_violations,
        )

        parent = ctx.ref_tables[c.params["ref_table"]]
        child = df
        # composite keys: {"child_keys": [...], "parent_key": [...]}
        if "key_expr" in c.params and "child_keys" in c.params:
            raise ValueError(
                f"{c.constraint_id}: key_expr and child_keys are mutually "
                "exclusive (key_expr derives a single child key)"
            )
        child_key = c.params.get("child_keys", c.column)
        if "key_expr" in c.params:
            child = df.withColumn("__refkey", F.expr(c.params["key_expr"]))
            child_key = "__refkey"
        v = referential_violations(
            child, parent, child_key, c.params["parent_key"],
            constraint_id=c.constraint_id, id_col=id_col,
            broadcast=c.params.get("broadcast", True),
        )
        return v.select(*VIOLATION_COLS)
    if c.kind == "contamination":
        from validate_xml_rust_spark.operators.curation import (
            contamination_flags,
            contamination_sweep,
        )

        bench = ctx.ref_tables[c.params["benchmark"]]
        if "primary_n" in c.params or c.params.get("sweep"):
            flags = contamination_sweep(
                df, bench,
                id_col=id_col, text_col=c.column,
                bench_text_col=c.params.get("bench_text_col", c.column),
                primary_n=int(c.params.get("primary_n", 13)),
                min_n=int(c.params.get("min_n", 5)),
                broadcast=c.params.get("broadcast", True),
            )
            gram_desc = f"{c.params.get('primary_n', 13)}-gram-sweep"
        else:
            flags = contamination_flags(
                df, bench,
                id_col=id_col, text_col=c.column,
                bench_text_col=c.params.get("bench_text_col", c.column),
                n=int(c.params.get("n", 8)),
                broadcast=c.params.get("broadcast", True),
            )
            gram_desc = f"{c.params.get('n', 8)}-grams"
        max_hits = int(c.params.get("max_hits", 0))
        return flags.filter(F.col("n_contaminated_ngrams") > max_hits).select(
            F.col(id_col).cast("string").alias("url"),
            F.lit(c.constraint_id).alias("constraint_id"),
            F.col("n_contaminated_ngrams").cast("string").alias("observed_value"),
            F.concat(
                F.lit("shares "), F.col("n_contaminated_ngrams").cast("string"),
                F.lit(f" {gram_desc} with benchmark "),
                F.lit(c.params["benchmark"]),
            ).alias("message"),
        )
    if c.kind == "near_dup":
        from validate_xml_rust_spark.operators.dedup import (
            connected_components,
            minhash_near_duplicates,
        )

        # the pairs come back as a (small) checkpoint; the corpus-sized
        # shingle/signature blocks are already freed before the CC rounds
        pairs = minhash_near_duplicates(
            df, id_col=id_col, text_col=c.column,
            threshold=float(c.params.get("threshold", 0.8)),
        )
        comp = connected_components(pairs)
        # materialize the (tiny) violation rows, then release the pairs and
        # final-label checkpoints — nothing near-dup-sized outlives the call
        from validate_xml_rust_spark.ckpt import (
            block_ids_of,
            eager_checkpoint,
            release_blocks,
        )

        out, out_ids = eager_checkpoint(
            comp.filter(F.col("id") != F.col("component")).select(
                F.col("id").cast("string").alias("url"),
                F.lit(c.constraint_id).alias("constraint_id"),
                F.col("component").cast("string").alias("observed_value"),
                F.concat(
                    F.lit("near-duplicate of "), F.col("component").cast("string"),
                    F.lit(f" (jaccard >= {c.params.get('threshold', 0.8)})"),
                ).alias("message"),
            )
        )
        release_blocks(
            df.sparkSession.sparkContext, block_ids_of(pairs) | block_ids_of(comp)
        )
        if ckpt_ids is not None:
            ckpt_ids |= out_ids
        return out
    if c.kind == "shared_passage":
        # substring-level duplication DETECTOR: flag docs that contain
        # cross-document shared passages of >= min_run tokens (beyond
        # max_spans of them) — the validator complement to the
        # excise_shared_passages transform (gate-checked in the
        # fingerprints suite; this kind is the routing/violation glue)
        from validate_xml_rust_spark.ckpt import eager_checkpoint, release_blocks
        from validate_xml_rust_spark.operators.dedup import shared_passage_stats

        sp_stats: dict = {}
        min_run = int(c.params.get("min_run", 8))
        max_spans = int(c.params.get("max_spans", 0))
        hits = shared_passage_stats(
            df, id_col=id_col, text_col=c.column, min_run=min_run,
            stats=sp_stats,
        ).filter(F.col("n_spans") > max_spans)
        out, out_ids = eager_checkpoint(
            hits.select(
                F.col(id_col).cast("string").alias("url"),
                F.lit(c.constraint_id).alias("constraint_id"),
                F.col("n_shared_tokens").cast("string").alias("observed_value"),
                F.concat(
                    F.col("n_spans").cast("string"),
                    F.lit(f" shared passage span(s) of >= {min_run} tokens ("),
                    F.col("n_shared_tokens").cast("string"),
                    F.lit(" tokens duplicated across documents)"),
                ).alias("message"),
            )
        )
        release_blocks(
            df.sparkSession.sparkContext,
            sp_stats.get("ckpt_block_ids", frozenset()),
        )
        if ckpt_ids is not None:
            ckpt_ids |= out_ids
        return out
    if c.kind == "lm_quality":
        # CCNet-style LM quality constraint: docs whose bigram-LM
        # log-perplexity against the spec-named reference table exceeds
        # the budget are violations — the declarative validator face of
        # textstats.lm_perplexity (the transform twin is the pipeline's
        # max_log_ppl filter). Unscorable docs (<2 tokens) never violate.
        from validate_xml_rust_spark.operators.textstats import lm_perplexity

        ref = ctx.ref_tables[c.params["ref_table"]]
        budget = float(c.params.get("max_log_ppl", 10.0))
        scores = lm_perplexity(
            df, ref, id_col=id_col, text_col=c.column,
            ref_text_col=c.params.get("ref_text_col", "text"),
            alpha=float(c.params.get("alpha", 0.1)),
        )
        hits = scores.filter(F.col("log_ppl") > budget)
        return hits.select(
            F.col(id_col).cast("string").alias("url"),
            F.lit(c.constraint_id).alias("constraint_id"),
            F.col("log_ppl").cast("string").alias("observed_value"),
            F.concat(
                F.lit("bigram-LM log-perplexity "),
                F.col("log_ppl").cast("string"),
                F.lit(f" above budget {budget} over "),
                F.col("n_bigrams").cast("string"),
                F.lit(" bigrams"),
            ).alias("message"),
        )
    if c.kind == "drift":
        from validate_xml_rust_spark.operators.drift import (
            chi2_drift_check,
            drift_violations,
            ks_drift_check,
        )

        test = c.params.get("test", "chi2")
        alpha = c.params.get("alpha", 0.05)
        if test == "vocab":
            # token-level vocabulary drift of the TEXT column: the
            # baseline is the scoped corpus's own global token
            # distribution (summed from the same counts — one pass), so
            # no ctx.baselines entry is declared
            from validate_xml_rust_spark.operators.drift import vocab_drift

            # thread the operator's count-checkpoint blocks into the
            # result's release set — a long-lived validation service
            # must not strand one block set per run (repo ckpt rule)
            vd_handles: dict = {}
            d = vocab_drift(
                df, text_col=c.column, partition_col=partition_col,
                n_buckets=int(c.params.get("n_buckets", 256)),
                stat=c.params.get("stat", "js"),
                threshold=c.params.get("threshold", 0.1),
                handles=vd_handles,
            )
            if ckpt_ids is not None:
                ckpt_ids |= vd_handles.get("ckpt_block_ids", frozenset())
        elif test == "ks":
            baseline = ctx.baselines[c.column]
            d = ks_drift_check(df, c.column, baseline, partition_col, alpha)
        elif test == "psi":
            from validate_xml_rust_spark.operators.drift import psi_drift_check

            baseline = ctx.baselines[c.column]
            d = psi_drift_check(
                df, c.column, baseline, partition_col,
                threshold=c.params.get("threshold", 0.2),
            )
        else:
            baseline = ctx.baselines[c.column]
            d = chi2_drift_check(df, c.column, baseline, partition_col, alpha)
        # carry the SPEC's constraint id (like every other table kind) —
        # drift_violations' derived drift_<test>_<col> id is for direct
        # operator use, not for spec-declared constraints
        return (
            drift_violations(d)
            .withColumn("constraint_id", F.lit(c.constraint_id))
            .select(*VIOLATION_COLS)
        )
    if c.kind == "host_quality":
        from validate_xml_rust_spark.operators.hostquality import (
            host_quality_violations,
        )

        dmq = c.params.get("domain_min_mean_quality")
        dmd = c.params.get("domain_min_docs")
        return host_quality_violations(
            df,
            group_col=c.params.get("group_col", c.column),
            constraint_id=c.constraint_id,
            min_mean_quality=float(c.params.get("min_mean_quality", 0.5)),
            min_docs=int(c.params.get("min_docs", 1)),
            text_col=c.params.get("text_col", "text"),
            quality_col=c.params.get("quality_col"),
            domain_col=c.params.get("domain_col"),
            domain_min_mean_quality=float(dmq) if dmq is not None else None,
            domain_min_docs=int(dmd) if dmd is not None else None,
        ).select(*VIOLATION_COLS)
    if c.kind == "fd":
        from validate_xml_rust_spark.operators.profile import fd_violations

        dep = c.params["dependent"]
        dets = c.params.get("determinant", [c.column])
        v = fd_violations(df, dets, dep)
        det_cols = [dets] if isinstance(dets, str) else list(dets)
        return v.select(
            F.concat_ws("=", F.lit(",".join(det_cols)),
                        F.concat_ws(",", *[F.col(x).cast("string") for x in det_cols])
                        ).alias("url"),
            F.lit(c.constraint_id).alias("constraint_id"),
            F.concat_ws(",", "example_values").alias("observed_value"),
            F.concat_ws(
                " ",
                F.lit(f"functional dependency violated: {dep} has"),
                F.col("n_dependent_values").cast("string"),
                F.lit("values across"),
                F.col("n_rows").cast("string"),
                F.lit("rows"),
            ).alias("message"),
        ).select(*VIOLATION_COLS)
    raise ValueError(f"not a table-scope kind: {c.kind}")


@dataclass
class FullValidationResult:
    row_result: ValidationResult
    table_violations: DataFrame | None
    # localCheckpoint blocks backing table_violations (near_dup constraints
    # materialize eagerly — see validate_full docstring); unreachable by
    # DataFrame.unpersist, so the caller frees them explicitly when done
    ckpt_block_ids: frozenset = frozenset()

    def all_violations(self) -> DataFrame:
        row_v = self.row_result.violations().select(*VIOLATION_COLS)
        if self.table_violations is None:
            return row_v
        return row_v.unionByName(self.table_violations)

    def release(self) -> None:
        """Free checkpoint blocks backing table_violations (RDD-level —
        call after the violations have been written/consumed)."""
        if self.table_violations is not None and self.ckpt_block_ids:
            from validate_xml_rust_spark.ckpt import release_blocks

            release_blocks(
                self.table_violations.sparkSession.sparkContext,
                self.ckpt_block_ids,
            )


def validate_full(
    df: DataFrame,
    spark: SparkSession,
    registry: SpecRegistry,
    context: TableContext | None = None,
    route_col: str = "lang",
    route_mode: str = "column",
    override_spec_id: str | None = None,
    id_col: str = "url",
    partition_col: str = "partition_id",
) -> FullValidationResult:
    """Row verdicts + every table-scope constraint of every registered spec.

    Table checks run over the rows the spec actually governs (rows routed
    to that spec), so a registry with per-route specs applies each spec's
    uniqueness/referential/drift to its own slice — mirroring the
    reference's per-schema scoping.

    Cost note: ``near_dup`` constraints execute their full MinHash+CC
    pipeline EAGERLY here (near-dedup materializes each intermediate as a
    checkpoint and frees it before returning); don't declare one in a
    registry whose table_violations you never read. The materialized
    violation rows are localCheckpoint blocks — call ``result.release()``
    once they're consumed."""
    ctx = context or TableContext()
    row_result = validate(
        df, spark, registry, route_col=route_col, route_mode=route_mode,
        override_spec_id=override_spec_id, id_col=id_col,
        partition_col=partition_col,
    )

    # rows per spec: reuse the verdict spec_id by joining back? Cheaper:
    # recompute the routing predicate per spec on the input (narrow).
    table_v: DataFrame | None = None
    ckpt_ids: set = set()
    for sid, spec in sorted(registry.specs.items()):
        tcs = spec.table_constraints()
        if not tcs:
            continue
        if override_spec_id is not None:
            scoped = df if sid == override_spec_id else None
        elif route_mode == "content":
            from validate_xml_rust_spark.operators.validate import extract_spec_ref

            ref, _failed = extract_spec_ref(F.col("html"))
            scoped = df.filter(ref == sid)
        else:
            keys = tuple(k for k, v in registry.routes.items() if v == sid)
            scoped = df.filter(_routed(route_col, keys)) if keys else None
        if scoped is None:
            continue
        for c in tcs:
            v = _table_violations_for(
                scoped, c, ctx, id_col, partition_col, ckpt_ids=ckpt_ids
            )
            table_v = v if table_v is None else table_v.unionByName(v)

    return FullValidationResult(
        row_result=row_result,
        table_violations=table_v,
        ckpt_block_ids=frozenset(ckpt_ids),
    )


@per_context
def _routed(route_col: str, keys: tuple[str, ...]) -> Column:
    """Rows whose route key sends them to one spec."""
    return F.col(route_col).isin(list(keys))
