"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` (default 32) and
prints ONE JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The flagship measurement is the north-star metric: validated docs/sec for
the full constraint suite over the synthetic Common-Crawl-style pages table
(1M docs by default — generation is pure codegen, so the timing is
dominated by the validation pipeline itself). Relational/auxiliary
operator timings run over the sf parquet tables.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_PAGES = int(os.environ.get("BENCH_PAGES", "1000000"))


_SPARK = None  # set in main(); used to isolate query timings
_PROTECT: set[int] = set()  # RDD ids _sweep must keep (untimed setup state)


def _force(df) -> None:
    """Force FULL evaluation of every output column: hash each row's
    struct of all columns and aggregate. ``count()`` would let Catalyst
    prune the projected expressions (md5/regex/tokenize work would be
    skipped — the repo rule: never time a pipeline with count())."""
    from pyspark.sql import functions as F

    # bit_xor, not sum: summing 64-bit hashes overflows under ANSI mode
    df.agg(F.bit_xor(F.xxhash64(F.struct(*df.columns))).alias("__h")).collect()


def _time(fn) -> float:
    """Best of 2 executions (fresh plan each — operators are lazy thunks),
    with the RDD/cache sweep between them: resilient to ambient machine
    load without hiding per-query plan/codegen cost entirely."""
    best = None
    for _ in range(2):
        t0 = time.perf_counter()
        fn()
        secs = round(time.perf_counter() - t0, 3)
        best = secs if best is None else min(best, secs)
        _sweep()
    return best


def _sweep() -> None:
    # drop anything an operator persisted so one query's cache never
    # degrades the next query's measurement. catalog.clearCache() only
    # clears SQL-cached plans — localCheckpoint blocks (eager LSH results,
    # CC rounds) are RDD-level persists and need the registry sweep, or
    # they accumulate executor memory across the run (measured: +10s GC
    # drag on queries later in the bench)
    if _SPARK is not None:
        _SPARK.catalog.clearCache()
        jmap = _SPARK.sparkContext._jsc.getPersistentRDDs()
        for rid in list(jmap.keySet().toArray()):
            if int(rid) in _PROTECT:
                continue  # untimed setup state a timed query reads (e.g.
                # the incremental-validation prior snapshot)
            rdd = jmap.get(rid)
            if rdd is not None:
                rdd.unpersist()


def run_validation_bench(spark, n_docs: int, n_partitions: int) -> tuple[float, dict]:
    """Full engine: synth pages → verdicts → violations count + per-partition
    summary. Returns (seconds, derived metrics)."""
    from pyspark.sql import functions as F

    from validate_xml_rust_spark.operators.summary import partition_pass_fail
    from validate_xml_rust_spark.operators.validate import validate
    from validate_xml_rust_spark.sources.pages import LANGS, pages, with_partition_id
    from validate_xml_rust_spark.specs import Constraint, Spec, SpecRegistry

    spec = Spec(
        "webpage-v1",
        (
            Constraint("url_not_null", "url", "not_null"),
            Constraint("url_format", "url", "regex", {"pattern": r"^https?://.*"}),
            Constraint(
                "warc_ts_range", "warc_ts", "range",
                {"lo": "2025-01-01 00:00:00", "hi": "2026-01-01 00:00:00"},
            ),
            Constraint("html_utf8", "html", "utf8", severity="error"),
            Constraint("html_len", "html", "length", {"lo": 1, "hi": 100_000}),
            Constraint("lang_enum", "lang", "isin", {"values": LANGS}),
        ),
    )
    registry = SpecRegistry().add(spec, route_keys=LANGS)

    # JIT warmup: C2 compilation of the generated validation code dominates
    # a cold first run (measured 27s cold vs 5s steady at 32 threads), and
    # tiered compilation keeps improving for SEVERAL executions past the
    # first. Two warmups were not enough: with 2 warmups + 3 reps the rep
    # spread was 1.16/1.73/2.22s, while an immediately following identical
    # 5-execution block measured 1.10/1.14/1.32s — i.e. executions 6-10
    # are steady, 3-5 are still compiling. FIVE full-size warmup passes
    # (fresh plans, so no shuffle reuse) put the measured reps in the
    # steady band, so the median reflects what a long cluster job sees,
    # not the JIT tier the round happened to land on — and the residual
    # flagship_reps spread becomes readable as ambient noise (max/min
    # ≤ ~1.3 on an idle box).
    for _ in range(5):
        warm = with_partition_id(pages(spark, n_docs, n_partitions), 64)
        validate(warm, spark, registry).verdicts.groupBy("status").count().collect()

    def run_once() -> tuple[float, list]:
        # fresh plan per run (no shuffle reuse); ONE action: per-partition
        # pass/fail + violation totals in a single aggregation pass (scan →
        # broadcast join → project → partial agg → 64-row final agg).
        d = with_partition_id(pages(spark, n_docs, n_partitions), 64)
        res = validate(d, spark, registry)
        t0 = time.perf_counter()
        rows = (
            res.verdicts.groupBy("partition_id")
            .agg(
                F.count(F.lit(1)).alias("total"),
                F.sum(F.when(F.col("status") == "valid", 1).otherwise(0)).alias("valid"),
                F.sum(F.when(F.col("status") == "invalid", 1).otherwise(0)).alias("invalid"),
                F.sum(F.when(F.col("status") == "error", 1).otherwise(0)).alias("error"),
                F.sum(F.when(F.col("status") == "skipped", 1).otherwise(0)).alias("skipped"),
                F.sum(F.size("violation_entries")).alias("n_violations"),
            )
            .collect()
        )
        return time.perf_counter() - t0, rows

    # MEDIAN of 5 measured runs (post-warmup) is the headline — the same
    # statistic the scaling methodology uses (best-of-reps biases upward;
    # BENCH/BASELINE.md). Five reps, not three: flagship reps measured in
    # ISOLATION are tight (1.19-1.37s spread), but ambient co-tenant
    # bursts can inflate 1-2 reps of a 3-rep window by 50%+ and drag the
    # median with them — the median of 5 rides out up to two noisy reps
    # for ~3s of extra bench time. The full rep spread rides the output
    # (flagship_reps): a ±8% swing in the headline number must be
    # readable as noise or regression without a re-run.
    runs = [run_once() for _ in range(5)]
    runs_sorted = sorted(runs, key=lambda r: r[0])
    secs, per_part = runs_sorted[2]  # median rep
    rep_secs = sorted(round(r[0], 3) for r in runs)
    total = sum(r["total"] for r in per_part)
    _ = partition_pass_fail  # kept importable for parity runs
    return round(secs, 3), {
        "docs": total,
        "violations": sum(r["n_violations"] for r in per_part),
        "partitions": len(per_part),
        "docs_per_sec": round(total / secs, 1),
        "reps": {
            "min": rep_secs[0], "median": rep_secs[2], "max": rep_secs[-1],
            "docs_per_sec_min": round(total / rep_secs[-1], 1),
            "docs_per_sec_median": round(total / rep_secs[2], 1),
            "docs_per_sec_max": round(total / rep_secs[0], 1),
        },
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").split("sf")[-1]

    from validate_xml_rust_spark import get_spark
    from validate_xml_rust_spark.queries import QUERIES

    spark = get_spark(app_name="vxrs-bench", cpus=cpus, shuffle_partitions=cpus)
    global _SPARK
    _SPARK = spark

    timings: dict[str, float] = {}

    # Flagship: full validation engine over synthetic pages.
    v_secs, v_extra = run_validation_bench(spark, BENCH_PAGES, cpus * 2)
    timings["validate_pages_full"] = v_secs

    # Pages-scale north-star operators (uniqueness under real host skew,
    # one-pass profile, per-partition drift) over the same 1M-page table.
    from pyspark.sql import functions as F

    from validate_xml_rust_spark.operators.drift import (
        categorical_baseline,
        chi2_drift_check,
    )
    from validate_xml_rust_spark.operators.profile import length_histogram, profile
    from validate_xml_rust_spark.operators.uniqueness import duplicate_keys
    from validate_xml_rust_spark.sources.pages import pages as _pages
    from validate_xml_rust_spark.sources.pages import with_partition_id as _wpid

    pg = _wpid(_pages(spark, BENCH_PAGES, cpus * 2), 64)

    # incremental snapshot-diff validation: a prior snapshot covers 75% of
    # the corpus; only the 25% delta re-runs the constraint suite. Prior
    # construction (one full validation of the 75%) is untimed setup — at
    # scale it is yesterday's run. The timed pass = fingerprint scan +
    # (id,fp) reuse join + constraint suite on the delta only.
    # NOTE this entry reads SLOWER than validate_pages_full: THIS engine's
    # constraint suite is a zero-shuffle expression scan, so trading 75%
    # of it for two (id,fp) joins loses on a single box. The operator pays
    # off when re-validation is genuinely expensive (pandas-check suites,
    # remote-spec fetches) or on Iceberg, where the snapshot-diff scan
    # hands over the delta and BOTH joins disappear. Timed anyway —
    # honest numbers over flattering ones, and it guards the join shape.
    from validate_xml_rust_spark.ckpt import eager_checkpoint, release_blocks
    from validate_xml_rust_spark.operators.resume import (
        content_fingerprint,
        incremental_verdicts,
    )
    from validate_xml_rust_spark.operators.validate import validate as _validate
    from validate_xml_rust_spark.sources.pages import LANGS as _LANGS
    from validate_xml_rust_spark.specs import Constraint, Spec, SpecRegistry

    _reg = SpecRegistry().add(
        Spec(
            "webpage-v1",
            (
                Constraint("url_not_null", "url", "not_null"),
                Constraint("url_format", "url", "regex", {"pattern": r"^https?://.*"}),
                Constraint("html_utf8", "html", "utf8", severity="error"),
                Constraint("lang_enum", "lang", "isin", {"values": _LANGS}),
            ),
        ),
        route_keys=_LANGS,
    )
    _fcols = ["text", "lang"]
    _prior_pages = pg.filter(F.coalesce(F.xxhash64("url") % 4, F.lit(0)) != 0)
    _prior_v = _validate(_prior_pages, spark, _reg).verdicts.select(
        F.col("url"), "spec_id", "status", "error_count"
    )
    _prior, _prior_ids = eager_checkpoint(
        _prior_pages.select(
            "url", content_fingerprint(_fcols).alias("content_fp")
        )
        .join(_prior_v, "url")
        .dropDuplicates(["url"])  # pages plants dup urls; prior keys are unique
    )
    _PROTECT.update(_prior_ids)
    timings["incremental_validate_pages"] = _time(
        lambda: _force(
            incremental_verdicts(pg, _prior, spark, _reg, _fcols).select(
                "url", "status", "error_count", "revalidated"
            )
        )
    )
    _PROTECT.difference_update(_prior_ids)
    release_blocks(spark.sparkContext, _prior_ids)

    timings["uniqueness_pages_salted"] = _time(
        lambda: _force(duplicate_keys(pg.filter(F.col("url").isNotNull()), ["url"], n_salts=16))
    )
    timings["uniqueness_pages_unsalted"] = _time(
        lambda: _force(duplicate_keys(pg.filter(F.col("url").isNotNull()), ["url"], salted=False))
    )
    # bloom pre-pass: ~2% of pages rows (planted dups + FP) reach the
    # groupBy shuffle instead of 100%. NOTE this entry reads SLOWER than
    # the plain salted path on local[N] — the pre-pass pays an extra CPU
    # scan to cut shuffle BYTES, and a single box shuffles through memory
    # for free; the win is network-bound cluster shuffle (SCALE.md §3 (a)
    # does the arithmetic). Timed anyway: honest numbers over flattering
    # ones, and the entry guards against the pre-pass itself regressing.
    timings["uniqueness_pages_bloom"] = _time(
        lambda: _force(
            duplicate_keys(
                pg.filter(F.col("url").isNotNull()), ["url"],
                n_salts=16, bloom=True, bloom_bits=1 << 24,
            )
        )
    )
    timings["profile_pages"] = _time(
        lambda: profile(pg, ["url", "lang", "warc_ts"]).collect()
    )
    # model-based quality scoring at pages scale: the zero-shuffle Arrow
    # path (broadcast weight map, one narrow pass — no joins, no shuffle)
    from validate_xml_rust_spark.operators.quality_model import (
        score_quality,
        train_quality_model,
    )
    from validate_xml_rust_spark.sources.corpus import quality_corpus

    qmodel = train_quality_model(quality_corpus(spark, 2000, cpus))
    timings["model_quality_pages"] = _time(
        lambda: _force(
            score_quality(pg, qmodel).select("url", "quality_logit", "quality_prob")
        )
    )
    timings["length_histogram_pages"] = _time(
        lambda: length_histogram(pg, "text", lo=0, hi=400, n_buckets=20).collect()
    )
    # exact (sort-based) vs GK-sketch percentiles over the same 1M-page
    # numeric column: the measured trade behind profile.numeric_percentiles'
    # scale default (sketch partials merge map-side — no full value shuffle)
    from validate_xml_rust_spark.operators.profile import numeric_percentiles

    pg_num = pg.select(F.length("text").cast("double").alias("text_len"))
    timings["percentiles_exact_pages"] = _time(
        lambda: numeric_percentiles(pg_num, ["text_len"], exact=True).collect()
    )
    timings["percentiles_sketch_pages"] = _time(
        lambda: numeric_percentiles(pg_num, ["text_len"]).collect()
    )
    base = categorical_baseline(pg.filter(F.col("partition_id") < 8), "lang")
    timings["drift_chi2_pages"] = _time(
        lambda: chi2_drift_check(pg, "lang", base).collect()
    )
    from validate_xml_rust_spark.operators.drift import psi_drift_check

    timings["drift_psi_pages"] = _time(
        lambda: psi_drift_check(pg, "lang", base).collect()
    )
    from validate_xml_rust_spark.functions.urlnorm import canonical_dup_groups

    timings["url_canonical_pages"] = _time(
        lambda: _force(canonical_dup_groups(pg))
    )
    from validate_xml_rust_spark.operators.skew import host_stats_salted

    timings["host_stats_salted_pages"] = _time(
        lambda: _force(host_stats_salted(pg))
    )
    # host-level quality keep/drop over the same 1M pages: codegen'd score
    # + salted DECIMAL mean — the Gopher/RefinedWeb-style domain filter
    from validate_xml_rust_spark.operators.hostquality import (
        host_quality_violations,
    )

    pg_host = pg.withColumn("__host", F.parse_url(F.col("url"), F.lit("HOST")))
    timings["host_quality_pages"] = _time(
        lambda: _force(
            host_quality_violations(
                pg_host, group_col="__host", min_mean_quality=0.6, min_docs=10,
            )
        )
    )

    # CCNet-style bigram-LM scoring at pages scale: counts train on a
    # deterministic ~2% hash-sample of the en pages (the bounded curated
    # reference the recipe assumes), broadcast, then every page scores in
    # one narrow pass + two BroadcastHashJoins + a per-url aggregate
    from validate_xml_rust_spark.operators.textstats import lm_perplexity

    _lm_ref = pg.filter(
        (F.col("lang") == "en") & (F.pmod(F.xxhash64("url"), F.lit(50)) == 0)
    ).select("text")
    _force(lm_perplexity(pg, _lm_ref, id_col="url"))  # Arrow/codegen warmup
    _sweep()
    timings["lm_perplexity_pages"] = _time(
        lambda: _force(lm_perplexity(pg, _lm_ref, id_col="url"))
    )

    # Gopher rule pack at pages scale: seven published quality rules as
    # pure codegen'd Column expressions — zero shuffle, scan-bound
    from validate_xml_rust_spark.operators.textstats import gopher_rules

    timings["gopher_rules_pages"] = _time(
        lambda: _force(gopher_rules(pg, min_words=10))
    )

    # C4 rule pack at pages scale: line split materialized once, one
    # filter pass + page flags, text rebuilt — zero shuffle, zero Python
    from validate_xml_rust_spark.operators.textstats import c4_rules

    timings["c4_rules_pages"] = _time(
        lambda: _force(c4_rules(pg, min_lines=2))
    )

    # PII redaction at pages scale: three java.util.regex count probes
    # + the chained three-pattern replace (curation.redact_pii, the
    # q:redact_pii-gated operator), all codegen — the regex scans are
    # the cost, so this entry tracks the per-byte price on 1M pages
    from validate_xml_rust_spark.operators.curation import redact_pii

    timings["pii_redact_pages"] = _time(
        lambda: _force(
            redact_pii(pg.select("url", "text"), "text").select(
                F.sum(F.col("n_email") + F.col("n_ip") + F.col("n_phone")).alias("t"),
                F.sum(F.length("redacted")).alias("b"),
            )
        )
    )

    # trainable char-n-gram langid at volume: train on a 50k slice (one
    # gram explode + (bucket, lang) count shuffle, weights ≤ 65536·L
    # rows), score 200k docs through ONE BroadcastHashJoin + the
    # two-step argmax — the per-language routing model (CCNet terciles,
    # vocab drift) scored at corpus rates
    from validate_xml_rust_spark.operators.textstats import (
        langid_predict,
        langid_train,
    )
    from validate_xml_rust_spark.sources.corpus import lang_corpus

    # corpus written to parquet FIRST (the semdedup-entry rule): the
    # multilingual generator is nested-HOF expressions whose interpreted
    # evaluation would dominate the timing (~3 corpus scans per run);
    # the operator's cost is the gram explode + count shuffle + the
    # broadcast-weights scoring join, and that is what gets timed
    import tempfile

    _lc_dir = tempfile.mkdtemp(prefix="bench_langid_") + "/docs"
    lang_corpus(spark, 200_000, cpus * 2).write.mode("overwrite").parquet(
        _lc_dir
    )
    _lc = spark.read.parquet(_lc_dir)

    def _run_langid() -> None:
        w = langid_train(_lc.filter(F.col("doc_id") < 50_000))
        _force(
            langid_predict(_lc, w).groupBy("lang", "detected_lang").count()
        )

    _run_langid()  # warmup (md5/codegen paths)
    _sweep()
    timings["langid_train_score_200k"] = _time(_run_langid)

    # training-shard sink arithmetic at pages scale: deterministic
    # md5-ticket assignment (narrow) + the manifest aggregation on the
    # uniform shard key (one shuffle of O(n_shards) partials) — the
    # write-side cost minus the filesystem
    from validate_xml_rust_spark.operators.outputs import (
        shard_assignments,
        shard_manifest,
    )

    def _run_shards() -> None:
        _pgt = pg.select("url", "text", F.length("text").alias("n_tokens"))
        _sh, _ = shard_assignments(
            _pgt, n_shards=256, id_col="url", tokens_col="n_tokens"
        )
        _force(shard_manifest(_sh, 1_000_000, id_col="url"))

    timings["shard_manifest_pages"] = _time(_run_shards)

    # vocabulary drift at pages scale: one narrow token explode + one
    # (P × 256) map-side-combined count shuffle; every token is an
    # observation, so this tracks the explode's real cost
    from validate_xml_rust_spark.operators.drift import vocab_drift

    timings["vocab_drift_pages"] = _time(
        lambda: vocab_drift(
            pg.withColumn(
                "partition_id", F.pmod(F.xxhash64("url"), F.lit(16)).cast("int")
            )
        ).collect()
    )

    # corpus datasheet at pages scale: ONE grouping-sets aggregation
    # (sections lang + host + corpus) + the exact percentile pass
    from validate_xml_rust_spark.operators.profile import corpus_datasheet

    timings["datasheet_pages"] = _time(
        lambda: _force(
            corpus_datasheet(
                pg.withColumn("__host", F.parse_url("url", F.lit("HOST"))),
                group_cols=("lang", "__host"),
            )
        )
    )

    # weighted mixture composition at pages scale: when-chain factor
    # lookup + md5 ticket + explode (epochs) — narrow, zero shuffle
    from validate_xml_rust_spark.operators.curation import mixture_epochs

    timings["mixture_pages"] = _time(
        lambda: _force(
            mixture_epochs(
                pg.select("url", "lang"),
                {"en": 1.5, "de": 1.0, "fr": 0.25},
                source_col="lang", key_col="url", default_factor=0.5,
            )
        )
    )

    # DSIR importance selection at pages scale: both bucket models are
    # bounded (target = deterministic ~2% de sample; raw estimated on a
    # 5% hash sample — the documented scale path) and broadcast; scoring
    # is one narrow gram explode + two BroadcastHashJoins + groupBy(url);
    # selection is TakeOrdered top-100k, not a global sort
    from validate_xml_rust_spark.operators.curation import dsir_resample

    _ds_target = pg.filter(
        (F.col("lang") == "de") & (F.pmod(F.xxhash64("url"), F.lit(50)) == 0)
    ).select("text")

    def _run_dsir() -> None:
        _force(
            dsir_resample(
                pg.select("url", "text"), _ds_target, k=100_000,
                key_col="url", raw_sample_rate=0.05,
            )
        )

    _run_dsir()  # Arrow/codegen warmup
    _sweep()
    timings["dsir_select_pages"] = _time(_run_dsir)

    # declarative one-pass at pages scale: ONE spec carrying row checks +
    # two table-scope kinds (salted uniqueness on url, host-quality
    # keep/drop), executed through orchestrate.validate_full — the
    # engine's top-level API at 1M-page volume
    from validate_xml_rust_spark.operators.orchestrate import validate_full

    _ospec = Spec(
        "pages-orch-v1",
        (
            Constraint("url_not_null", "url", "not_null"),
            Constraint("lang_enum", "lang", "isin", {"values": _LANGS}),
            Constraint("uq_url", "url", "unique"),
            Constraint("hq_host", "__host", "host_quality",
                       {"min_mean_quality": 0.6, "min_docs": 10}),
        ),
    )
    _oreg = SpecRegistry().add(_ospec, route_keys=_LANGS)

    def _run_orch() -> None:
        res = validate_full(pg_host, spark, _oreg, route_col="lang")
        _force(res.all_violations())
        res.release()

    timings["orchestrate_pages"] = _time(_run_orch)

    # LSH dedup at volume: 100k synthetic docs with planted near-dups
    from validate_xml_rust_spark.operators.dedup import minhash_near_duplicates
    from validate_xml_rust_spark.sources.corpus import synthetic_documents

    corpus = synthetic_documents(spark, 100_000, cpus * 2)
    # one untimed pass first: Python-worker spin-up + Arrow-path JIT for
    # the MinHash UDFs dominates a cold run (measured 30s cold vs ~5s
    # steady) — the steady state is what a long dedup job sees
    minhash_near_duplicates(corpus, threshold=0.6).count()
    spark.catalog.clearCache()
    timings["minhash_dedup_100k"] = _time(
        lambda: _force(minhash_near_duplicates(corpus, threshold=0.6))
    )

    # Batch-incremental near-dedup vs a persisted LSH signature store
    # (the recurring-crawl loop): a 50k historical half signs + commits
    # generation 1 UNTIMED, then the timed entry near-dedups the other
    # 50k slice against the store — sign the slice, join the store's
    # banded layout, exact-verify, component taint, anti-join
    # (commit=False so the store is identical across reps).
    import tempfile as _tf

    from validate_xml_rust_spark.operators.dedup import (
        SignatureStore,
        incremental_near_dedup,
    )

    _store = SignatureStore(spark, _tf.mkdtemp(prefix="bench_signstore_"))
    incremental_near_dedup(
        corpus.filter(F.col("doc_id") % 2 == 0), _store, threshold=0.6
    )
    _sweep()
    _slice_b = corpus.filter(F.col("doc_id") % 2 == 1)
    timings["incremental_neardup_100k"] = _time(
        lambda: _force(
            incremental_near_dedup(
                _slice_b, _store, threshold=0.6, commit=False
            )
        )
    )

    # End-to-end curation pipeline over the same 100k corpus: validate-free
    # config exercising the per-step checkpoint discipline (exact dedup →
    # MinHash near-dedup → sample → pack). curate() materializes every
    # step itself, so the timing needs no _force; release() frees the
    # result checkpoints before the sweep.
    from validate_xml_rust_spark.pipeline import curate

    def _run_curate() -> None:
        res = curate(
            corpus, spark, near_dup_threshold=0.6,
            sample_rate=0.9, pack_max_tokens=2048,
        )
        res.release()

    timings["curate_100k"] = _time(_run_curate)

    # Winnowing fingerprints + candidate pairs over the same 100k corpus
    # (the containment-detection dedup family)
    from validate_xml_rust_spark.operators.dedup import winnow_candidate_pairs

    winnow_candidate_pairs(corpus, min_shared=2).count()  # steady-state warmup
    spark.catalog.clearCache()
    timings["winnow_pairs_100k"] = _time(
        lambda: _force(winnow_candidate_pairs(corpus, min_shared=2))
    )

    # Substring-level passage excision over a 100k planted-shared-passage
    # corpus (the post-dedup ExactSubstr step): winnow prefilter →
    # positional-gram marking → interval merge → Arrow rebuild. Tracked
    # round-over-round like minhash_dedup so its shuffle behavior (gram
    # groupBy + join-back + cov distinct) can't silently regress.
    from validate_xml_rust_spark.ckpt import release_blocks
    from validate_xml_rust_spark.operators.dedup import excise_shared_passages
    from validate_xml_rust_spark.sources.corpus import passage_corpus

    pcorpus = passage_corpus(spark, 100_000, cpus * 2)

    def _run_excise() -> None:
        # release the excision's gram-start checkpoint after
        # each run — clearCache() can't reach RDD-level checkpoint
        # blocks, so a stats-less loop would leak one block per rep
        st: dict = {}
        _force(excise_shared_passages(pcorpus, stats=st))
        release_blocks(
            spark.sparkContext, st.get("ckpt_block_ids", frozenset())
        )

    _run_excise()  # Arrow-path warmup
    _sweep()
    timings["excise_passages_100k"] = _time(_run_excise)

    # Published-recipe curation presets — one entry per preset so
    # recipe-level regressions are tracked round-over-round
    # (curate_100k times a generic chain; these are the chains users
    # actually run). Placed after the excise/minhash warmups so every
    # Arrow path a preset dispatches to is already at steady state.
    #
    # NOT over the raw synthetic corpus: that is single-line
    # stopword-free word soup, which the published packs are DESIGNED
    # to annihilate (no terminal punctuation → C4 keeps 0 lines; no
    # stopword hits → Gopher drops every doc) — a preset bench over it
    # times steps over doomed rows and ends at kept=0. Re-shape each
    # doc into 5 punctuated, stopword-bearing lines (~70 words) so the
    # packs keep a realistic fraction and every per-row cost is real;
    # the planted exact/near duplicates survive the reshaping (same
    # transform of the same text), so the dedup steps stay exercised.
    # Parquet-materialized first (the semdedup-entry rule).
    from validate_xml_rust_spark.pipeline import preset_kwargs

    from validate_xml_rust_spark.sources.corpus import prose_documents

    _pc_dir = tempfile.mkdtemp(prefix="bench_presets_") + "/docs"
    prose_documents(spark, 100_000, cpus * 2).write.mode("overwrite").parquet(
        _pc_dir
    )
    _pcorpus = spark.read.parquet(_pc_dir)

    _ccnet_ref = _pcorpus.filter(F.col("doc_id") < 512).select("text")
    _corpus_l = _pcorpus.withColumn(
        "lang", F.when(F.col("doc_id") % 2 == 0, "en").otherwise("de")
    )
    for _preset in ("c4", "gopher", "ccnet", "web", "dolma"):
        _kw = (
            preset_kwargs(_preset, lm_ref=_ccnet_ref)
            if _preset == "ccnet"
            else preset_kwargs(_preset)
        )
        _frame = _corpus_l if _preset == "ccnet" else _pcorpus

        def _run_preset(frame=_frame, kw=_kw) -> None:
            res = curate(frame, spark, **kw)
            res.release()

        _sweep()
        timings[f"curate_{_preset}_100k"] = _time(_run_preset)

    # IVF with a BUILT index (cluster_id-partitioned parquet): the probe
    # becomes a partition-pruned scan — contrast with q:ivf_ann_topk,
    # which retrains + reassigns per query.
    import tempfile

    from validate_xml_rust_spark.operators.similarity import (
        ivf_build,
        ivf_topk_indexed,
        ivf_train,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    cents = ivf_train(emb, n_centroids=8, n_iters=3)
    idx_dir = tempfile.mkdtemp(prefix="bench_ivf_") + "/index"
    ivf_build(emb, cents, idx_dir)
    timings["ivf_indexed_topk"] = _time(
        lambda: _force(
            ivf_topk_indexed(spark, idx_dir, cents, qv, k=10, nprobe=3, exclude_id=0)
        )
    )

    # SemDeDup at 200k vectors / 20k semantic groups of 10 near-copies:
    # the corpus is written to parquet FIRST so the timing covers only
    # the operator (ivf train + Arrow assign + one cluster_id shuffle
    # into the blocked within-cluster matmul prune + anti join), not the
    # HOF generation expressions. Tracked round-over-round like
    # minhash_dedup so the shuffle shape can't silently regress.
    from validate_xml_rust_spark.operators.similarity import semantic_dedup

    vec_dir = tempfile.mkdtemp(prefix="bench_semdd_") + "/vecs"
    grp = F.pmod(F.col("vec_id"), F.lit(20_000))
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(31)),
        lambda d: (
            (F.pmod(F.xxhash64(grp, d), F.lit(1000)).cast("double") / 1000.0 - 0.5)
            + (
                F.pmod(F.xxhash64(F.col("vec_id"), d, F.lit(7)), F.lit(1000))
                .cast("double")
                / 25000.0
            )
        ).cast("float"),
    )
    spark.range(200_000).select(F.col("id").alias("vec_id")).select(
        "vec_id", vec.alias("embedding")
    ).repartition(cpus * 2).write.mode("overwrite").parquet(vec_dir)
    vecs = spark.read.parquet(vec_dir)

    def _run_semdd() -> None:
        _force(semantic_dedup(vecs, threshold=0.95, n_centroids=64, n_iters=2))

    _run_semdd()  # warmup (Arrow assign/prune paths)
    _sweep()
    timings["semantic_dedup_200k"] = _time(_run_semdd)

    # cluster-balanced diversity sampling over the same 200k vectors:
    # ivf model on the capped driver sample, then the default two-pass
    # assignment (count + probe) + broadcast threshold join
    from validate_xml_rust_spark.operators.similarity import diversity_sample

    _div_cents = ivf_train(vecs, n_centroids=16, id_col="vec_id")
    timings["diversity_sample_200k"] = _time(
        lambda: _force(diversity_sample(vecs, 5_000, centroids=_div_cents))
    )

    # cross-corpus semantic decontamination over the same 200k vectors
    # vs a 1,000-vector "benchmark" slice: corpus signatures (one Arrow
    # matmul) + band explode + the broadcast bucket probe with in-place
    # verification — zero corpus shuffle; the benchmark layout and
    # vectors ride one broadcast
    from validate_xml_rust_spark.operators.similarity import (
        semantic_decontaminate,
    )

    _sd_bench = vecs.filter(F.col("vec_id") % 200 == 0)
    timings["semantic_decontam_200k"] = _time(
        lambda: _force(
            semantic_decontaminate(
                vecs.filter(F.col("vec_id") % 200 != 0), _sd_bench,
                threshold=0.95,
            )
        )
    )

    # Operator queries over the sf parquet tables — every output column
    # fully evaluated (hash-aggregated), never count()-pruned.
    for name, fn in QUERIES.items():
        timings[name] = _time(lambda fn=fn: _force(fn(spark, sf_dir)))

    # Streaming replay entries are dominated by fixed trigger/state-store
    # setup, not per-row cost — report docs/sec alongside wall time so
    # round-over-round comparisons don't read replay overhead as regression.
    # Each entry's rate uses ITS OWN replayed row count: streaming_neardup
    # replays the fixed 600-doc planted corpus, streaming_first_seen
    # replays the sf documents table.
    from validate_xml_rust_spark.queries import STREAM_NEARDUP_DOCS

    n_docs_sf = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    stream_docs = {
        "streaming_neardup": STREAM_NEARDUP_DOCS,
        "streaming_first_seen": n_docs_sf,
    }
    stream_rates = {
        f"{name}_docs_per_sec": round(n / timings[name], 1)
        for name, n in stream_docs.items()
        if timings.get(name)
    }

    total = round(sum(timings.values()), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    full = {
        "metric": "total_bench_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "validated_docs_per_sec": v_extra["docs_per_sec"],
        "flagship_reps": v_extra["reps"],
        "bench_pages": v_extra["docs"],
        "stream_rates": stream_rates,
        "cpus": cpus,
    }
    spark.stop()
    print(json.dumps(full))
    # Compact headline LAST: the driver's output-capture window keeps the
    # tail and parses the FINAL JSON line (r3's full line outgrew the
    # window → "parsed": null). Top-10 timings only; everything else above.
    top10 = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:10])
    print(json.dumps({
        "metric": "total_bench_sec",
        "value": total,
        "unit": "sec",
        "queries": top10,
        "sf": sf_val,
        "validated_docs_per_sec": v_extra["docs_per_sec"],
        "flagship_reps": v_extra["reps"],
        "bench_pages": v_extra["docs"],
        "n_queries": len(timings),
        "cpus": cpus,
    }))


if __name__ == "__main__":
    main()
