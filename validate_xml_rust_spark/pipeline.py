"""End-to-end corpus curation: the pipeline a training-data user actually
runs, assembled from the engine's operators with a per-step lineage
report.

    validate → exact dedup → near dedup → passage excision →
    decontaminate → repetition filter → deterministic sample →
    sequence packing

Every step is the already-gate-checked operator; this module is the glue
plus drop accounting (``report['steps']``: step, rows_in, rows_out,
dropped). Steps are skipped when their knob is None — the pipeline
degrades to exactly the steps you configure.

Scale shape — each step's work executes EXACTLY ONCE: every step's output
is materialized as an eager localCheckpoint, and the step's row counts are
observed (``DataFrame.observe``) during that same pass, so no count job
runs and no lineage is recomputed. The input count comes from the first
fused segment's pass, or from one column-pruned scan when the first step
reads its input twice. The next step's plan is rooted at the checkpoint,
and the superseded checkpoint's blocks are released at the RDD level as
soon as the successor has materialized. The rule Columns a step applies
are built once per session (``colcache.per_context``), so a warm run
spends its driver time on Spark, not on rebuilding expression trees. The
returned ``kept``/``packs`` frames are themselves
checkpoints, so the caller's write is a block scan too — total work is
one pass per step, not the O(steps²) full-corpus re-derivation that
per-step ``count()`` on lazy frames would cost. Blocks live in executor
MEMORY_AND_DISK; a production 100 TB run would swap ``eager_checkpoint``
for writes to intermediate tables (same one-pass shape, durable blocks).
Call ``result.release()`` when done with the frames.

Sequence packing is sharded by a CONTENT hash of the doc id (never
``spark_partition_id()``, a physical-plan artifact): pack assignments are
reproducible across cluster sizes, AQE decisions, and retries."""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from validate_xml_rust_spark.ckpt import eager_checkpoint, release_blocks
from validate_xml_rust_spark.colcache import per_context


@dataclass
class CurationResult:
    kept: DataFrame
    packs: DataFrame | None
    report: dict = field(default_factory=dict)
    _block_ids: frozenset = frozenset()

    def release(self) -> None:
        """Free the checkpoint blocks backing ``kept``/``packs`` (RDD-level
        — DataFrame.unpersist cannot reach localCheckpoint blocks)."""
        if self.kept is not None and self._block_ids:
            release_blocks(self.kept.sparkSession.sparkContext, self._block_ids)


# Named pipeline presets — the published web-text curation recipes as
# curate(**kwargs) configurations, so a user runs the recipe by name
# instead of re-deriving knob values from the papers. Each maps to the
# already-gated steps; exact_dedup always runs first (curate's contract).
# The values are the published ones: C4's ≥3-line page gate (Raffel et
# al. 2020 §2.2) with span-level dedup realized as ≥50-token passage
# excision (Lee et al. 2021's recommended run length); Gopher's 50-word
# floor, its PUBLISHED repetition thresholds (Table A1 n-gram/dup-line
# char fractions — not the blunt duplicated-unigram flag, which real
# prose fails), and MassiveText's 0.8-Jaccard MinHash
# dedup (Rae et al. 2021 A1.1); CCNet's keep-head+middle perplexity
# terciles per language group (Wenzek et al. 2019 §4); "web" composes
# the C4 line cleaning, Gopher heuristics, and MinHash dedup the way the
# public FineWeb/RefinedWeb-style pipelines chain them.
CURATE_PRESETS: dict[str, dict] = {
    "c4": {
        "normalize_form": "NFC",
        "near_dup_threshold": None,
        "c4_min_lines": 3,
        "excise_min_run": 50,
    },
    "gopher": {
        "near_dup_threshold": 0.8,
        "gopher_min_words": 50,
        "gopher_repetition": True,
    },
    "ccnet": {
        "normalize_form": "NFC",
        "near_dup_threshold": None,
        "lm_keep_buckets": frozenset({"head", "middle"}),
        "lm_bucket_group": "lang",
    },
    "web": {
        "normalize_form": "NFC",
        "dedup_doc_lines": True,
        "near_dup_threshold": 0.8,
        "c4_min_lines": 3,
        "gopher_min_words": 50,
        "gopher_repetition": True,
    },
    # the Dolma toolkit's published chain (Soldaini et al. 2024):
    # dedup → Gopher/C4 quality heuristics → PII masking; masking runs
    # on survivors only (curate's pii_redact position)
    "dolma": {
        "normalize_form": "NFC",
        "dedup_doc_lines": True,
        "near_dup_threshold": 0.8,
        "c4_min_lines": 3,
        "gopher_min_words": 50,
        "gopher_repetition": True,
        "pii_redact": True,
    },
}

# preset knobs whose step cannot run without a caller-supplied frame
_PRESET_REQUIRES: dict[str, tuple[str, ...]] = {
    "ccnet": ("lm_ref",),
}


def preset_kwargs(name: str, **overrides) -> dict:
    """Kwargs for ``curate()`` implementing the named published recipe;
    explicit ``overrides`` win over the preset's values (so
    ``curate(df, spark, **preset_kwargs("gopher", sample_rate=0.1))``
    layers a sample on top of the Gopher pack). Raises KeyError listing
    the known names for a typo, and ValueError when a preset needs a
    frame the caller didn't supply (ccnet's ``lm_ref``)."""
    if name not in CURATE_PRESETS:
        raise KeyError(
            f"unknown preset {name!r}; known: {sorted(CURATE_PRESETS)}"
        )
    kwargs = {**CURATE_PRESETS[name], **overrides}
    missing = [
        k for k in _PRESET_REQUIRES.get(name, ()) if kwargs.get(k) is None
    ]
    if missing:
        raise ValueError(f"preset {name!r} requires {missing}")
    return kwargs


def pack_shard(id_col: str, n_shards: int) -> F.Column:
    """Deterministic packing shard: content hash of the doc id, so pack_id
    assignment survives repartitioning, AQE, retries, and engine swaps."""
    return F.pmod(F.xxhash64(F.col(id_col), F.lit(13)), F.lit(n_shards)).cast("int")


@per_context
def _row_count() -> Column:
    """The ``__n`` row-count metric a step's checkpoint pass observes."""
    return F.count(F.lit(1)).alias("__n")


@per_context
def _cumulative_flags(keep_cols: tuple[str, ...]) -> tuple[Column, ...]:
    """``flag_1``, ``flag_1 & flag_2``, …: the population each filtering
    step of a fused segment passes on."""
    out, cum = [], None
    for k in keep_cols:
        cum = F.col(k) if cum is None else (cum & F.col(k))
        out.append(cum)
    return tuple(out)


@per_context
def _segment_metrics(keep_cols: tuple[str, ...], count_input: bool) -> tuple[Column, ...]:
    """A fused segment's observed metrics: ``__c{i}`` rows passing flags
    1..i, plus the ``__n`` input rows when nothing has counted them."""
    sums = tuple(
        F.sum(c.cast("long")).alias(f"__c{i}")
        for i, c in enumerate(_cumulative_flags(keep_cols))
    )
    return ((_row_count(),) if count_input else ()) + sums


def _split_scorable(frame: DataFrame, id_col: str):
    """The pipeline's id contract in one place: rows with a UNIQUE
    non-NULL id are scorable/selectable; NULL-id and duplicate-id rows
    pass through the step verbatim (scoring operators key on the id, so
    a NULL would silently drop and a dup would blend bags or
    cross-multiply on the join back). Returns (scorable, passthrough),
    both with the original schema."""
    id_n = (
        frame.filter(F.col(id_col).isNotNull())
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("__idn"))
    )
    counted = frame.join(id_n, id_col, "left")
    scorable = counted.filter(F.col("__idn") == 1).drop("__idn")
    passthrough = counted.filter(
        F.col(id_col).isNull() | (F.col("__idn") > 1)
    ).drop("__idn")
    return scorable, passthrough


def curate(
    df: DataFrame,
    spark: SparkSession,
    registry=None,
    id_col: str = "doc_id",
    text_col: str = "text",
    route_col: str = "lang",
    benchmark: DataFrame | None = None,
    normalize_form: str | None = None,
    dedup_doc_lines: bool = False,
    near_dup_threshold: float | None = 0.8,
    near_dup_keeper_col: str | None = None,
    semantic_threshold: float | None = None,
    vec_col: str = "embedding",
    semantic_centroids: int = 16,
    excise_min_run: int | None = None,
    c4_min_lines: int | None = None,
    max_repetition: float | None = None,
    gopher_repetition: bool = False,
    gopher_min_words: int | None = None,
    lm_ref: DataFrame | None = None,
    max_log_ppl: float | None = None,
    lm_keep_buckets: set[str] | frozenset[str] | None = None,
    lm_bucket_group: str | None = None,
    sample_rate: float | None = None,
    dsir_target: DataFrame | None = None,
    dsir_k: int | None = None,
    mixture: dict[str, float] | None = None,
    mixture_source_col: str = "lang",
    mixture_default: float = 1.0,
    pack_max_tokens: int | None = None,
    pack_shards: int = 32,
    contamination_n: int = 8,
    semantic_benchmark: DataFrame | None = None,
    semantic_decontam_threshold: float = 0.95,
    url_col: str = "url",
    blocked_domains: DataFrame | None = None,
    robots_domains: DataFrame | None = None,
    license_allow: tuple[str, ...] | None = None,
    license_col: str = "html",
    pii_redact: bool = False,
) -> CurationResult:
    """Run the configured curation steps in order; every step logs
    (rows_in, rows_out) into ``result.report['steps']``. One pass per
    step — see module docstring for the checkpoint discipline."""
    sc = spark.sparkContext
    steps: list[dict] = []
    cur = df
    # rows entering the next step; None until a pass has counted the input
    n: int | None = None
    prev_ids: frozenset = frozenset()  # blocks of the predecessor checkpoint

    def log(step: str, out_df: DataFrame) -> DataFrame:
        nonlocal n, prev_ids
        if n is None:
            # the step's plan may read the input more than once (a join
            # back), so its pass cannot count the input: scan it
            n = df.count()
        # the eager checkpoint IS the step's single execution, and the
        # observation counts its rows during that pass
        obs = Observation()
        out, ids = eager_checkpoint(out_df.observe(obs, _row_count()))
        m = obs.get["__n"]
        steps.append({"step": step, "rows_in": n, "rows_out": m, "dropped": n - m})
        # successor materialized → predecessor blocks are unreachable
        release_blocks(sc, prev_ids)
        prev_ids = ids
        n = m
        return out

    # --- fused narrow-step machinery (r7 optimization, guide §2.4) ------
    # Consecutive ZERO-SHUFFLE steps (pure per-row projections / filters)
    # are queued and materialized as ONE eager checkpoint instead of one
    # per step: the fused frame carries every queued step's transform plus
    # one boolean keep-flag per filtering step; per-step (rows_in,
    # rows_out) come from sums of CUMULATIVE flag conjunctions, observed
    # during the checkpoint's own pass — identical numbers to the
    # sequential pipeline (a row counts for step i iff it passes flags
    # 1..i, which is exactly the population the sequential version hands
    # step i+1; TRUE&TRUE only, NULL/FALSE both fail, matching filter()'s
    # NULL-drops semantics). Builders never drop rows, so the same pass
    # also counts the segment's input when nothing has counted it yet.
    # Transforms are pure per-row functions, so applying them to rows a
    # later flag drops cannot change any surviving row's bytes. A k-step
    # narrow segment costs ONE compute pass + one checkpoint instead of k
    # materializations + k counts (measured: the five preset chains spend
    # most of their non-dedup time here). The final frame is a filter
    # VIEW over the fused checkpoint's blocks — still "one pass per
    # step": downstream reads materialized blocks plus a codegen filter.
    pending: list[tuple[str, object]] = []

    def queue(step: str, builder) -> None:
        """``builder(frame) -> (frame_with_transform, flag_col | None)``;
        flag_col names a boolean keep column (None = pure transform,
        rows_out == rows_in by construction)."""
        pending.append((step, builder))

    def flush() -> None:
        nonlocal cur, n, prev_ids
        if not pending:
            return
        work = cur
        flags: list[tuple[str, str | None]] = []
        for step, builder in pending:
            work, keep = builder(work)
            flags.append((step, keep))
        pending.clear()
        keep_cols = tuple(k for _, k in flags if k is not None)
        metrics = _segment_metrics(keep_cols, n is None)
        counts: dict = {}
        if metrics:
            obs = Observation()
            out, ids = eager_checkpoint(work.observe(obs, *metrics))
            counts = obs.get
        else:
            out, ids = eager_checkpoint(work)
        running = counts["__n"] if n is None else n
        flagged = 0
        for step, keep in flags:
            if keep is None:
                steps.append({"step": step, "rows_in": running,
                              "rows_out": running, "dropped": 0})
            else:
                mo = int(counts[f"__c{flagged}"] or 0)
                flagged += 1
                steps.append({"step": step, "rows_in": running,
                              "rows_out": mo, "dropped": running - mo})
                running = mo
        final = out
        if keep_cols:
            final = out.filter(_cumulative_flags(keep_cols)[-1]).drop(*keep_cols)
        release_blocks(sc, prev_ids)
        prev_ids = ids
        n = running
        cur = final

    if registry is not None:
        from validate_xml_rust_spark.operators.validate import validate

        res = validate(
            cur.withColumn("__cid", F.col(id_col).cast("string")),
            spark, registry, route_col=route_col, id_col="__cid",
            partition_col=None,
        )
        valid_ids = res.verdicts.filter(F.col("status") == "valid").select(
            F.col("url").alias("__vid")
        )
        cur = log(
            "validate",
            cur.join(
                valid_ids, cur[id_col].cast("string") == F.col("__vid"), "left_semi"
            ),
        )

    # URL/license policy first — crawl-side filters are the cheapest
    # (pure projections + one broadcast host join) and everything
    # downstream (dedup, LM scoring) should never pay for pages policy
    # already excludes
    if blocked_domains is not None or robots_domains is not None:
        if url_col not in cur.columns:
            raise ValueError(
                f"domain/robots filtering needs a {url_col!r} column"
            )
        from validate_xml_rust_spark.functions.urlnorm import (
            domain_blocklist_filter,
            robots_exclusion_filter,
        )

        if blocked_domains is not None:
            cur = log(
                "domain_blocklist",
                domain_blocklist_filter(cur, blocked_domains, url_col),
            )
        if robots_domains is not None:
            cur = log(
                "robots_filter",
                robots_exclusion_filter(cur, robots_domains, url_col),
            )

    if license_allow is not None:
        # keep only pages whose detected CC license is in the allow set
        # (building a permissively-licensed subset); signals never leak
        # into the kept schema
        if license_col not in cur.columns:
            raise ValueError(
                f"license filtering needs a {license_col!r} column"
            )
        from validate_xml_rust_spark.operators.textstats import (
            LICENSE_COLUMNS,
            license_signals,
        )

        def _b_license(frame: DataFrame):
            sig = license_signals(
                frame, license_col, allow=tuple(license_allow)
            )
            return (
                sig.withColumn("__keep_lic", F.col("license_ok")).drop(
                    *LICENSE_COLUMNS
                ),
                "__keep_lic",
            )

        queue("license_filter", _b_license)

    if normalize_form is not None:
        # Unicode normalization BEFORE dedup: composed vs decomposed
        # accent variants of the same text must land in the same
        # fingerprint group. One Arrow pass, text rewritten in place.
        from validate_xml_rust_spark.operators.curation import normalize_text

        queue(
            "normalize",
            lambda frame: (
                normalize_text(frame, text_col, form=normalize_form),
                None,
            ),
        )

    if dedup_doc_lines:
        # within-document repeated-line removal BEFORE corpus dedup:
        # a page spamming one promo line 40 times must not fingerprint
        # (or MinHash) differently from its clean twin. Pure codegen
        # projection, text rewritten in place; row count never changes.
        from validate_xml_rust_spark.operators.curation import (
            dedup_lines_within_doc,
        )

        # out_col=text_col rewrites in place (the normalize_text pattern)
        # — a drop/rename dance would destroy the column when text_col
        # is itself named 'clean_text', or eat an unrelated clean_text
        queue(
            "dedup_doc_lines",
            lambda frame: (
                dedup_lines_within_doc(frame, text_col, out_col=text_col),
                None,
            ),
        )

    from validate_xml_rust_spark.operators.dedup import exact_dedup, near_dedup

    flush()
    cur = log("exact_dedup", exact_dedup(cur, id_col, text_col))
    if near_dup_threshold is not None:
        nd_stats: dict = {}
        cur = log(
            "near_dedup",
            near_dedup(
                cur, id_col, text_col, threshold=near_dup_threshold,
                stats=nd_stats, keeper_score_col=near_dup_keeper_col,
            ),
        )
        # the step checkpoint (inside log) has materialized, so near_dedup's
        # internal drop-set checkpoint is unreachable — free its blocks
        release_blocks(sc, nd_stats.get("ckpt_block_ids", frozenset()))

    if semantic_threshold is not None:
        # SemDeDup AFTER textual near-dedup: semantic copies (same
        # meaning, different words) that survive MinHash collapse to one
        # exemplar per embedding cluster. Requires a vec_col on the
        # frame; rows with NULL embeddings or NULL/non-long ids are
        # never dropped (similarity.semantic_dedup's contract).
        from validate_xml_rust_spark.operators.similarity import semantic_dedup

        cur = log(
            "semantic_dedup",
            semantic_dedup(
                cur, id_col=id_col, vec_col=vec_col,
                threshold=semantic_threshold,
                n_centroids=semantic_centroids,
            ),
        )

    if excise_min_run is not None:
        # substring-level passage excision AFTER doc-level dedup (the
        # public pipeline order: whole near-dup docs are gone, now shared
        # passages inside kept docs are cut). REWRITES apply only to
        # rows whose id is non-NULL and UNIQUE in the frame —
        # exact_dedup dedups CONTENT, not ids, so duplicate-id rows with
        # different text can reach this step, and joining rebuilt text
        # back on such an id would cross-multiply rows. NULL-id and
        # duplicate-id rows pass through verbatim (rows_passthrough) —
        # but every IDENTIFIED row, duplicate ids included, still feeds
        # the gram-marking corpus, so a passage shared between a
        # unique-id doc and dup-id docs is detected and excised from the
        # rewritable copy. Docs that HAD an excision carry the rebuilt
        # token-domain text (single spaces — the domain every downstream
        # step tokenizes into); untouched docs keep their original text
        # byte-for-byte. Only docs excised down to zero tokens drop —
        # docs that already had zero tokens (and were never excised)
        # survive.
        from validate_xml_rust_spark.operators.dedup import (
            excise_shared_passages,
        )

        id_n = (
            cur.filter(F.col(id_col).isNotNull())
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("__idn"))
        )
        counted = cur.join(id_n, id_col, "left")
        excisable = counted.filter(F.col("__idn") == 1).drop("__idn")
        exc_stats: dict = {}
        exc = excise_shared_passages(
            counted.filter(F.col(id_col).isNotNull()).drop("__idn"),
            id_col, text_col, min_run=excise_min_run,
            stats=exc_stats,
        ).select(
            F.col(id_col),
            F.col("clean_text").alias("__clean"),
            "n_tokens_removed", "n_spans", "n_tokens_kept",
        )
        # rebuilt rows for dup-id docs are discarded (those rows pass
        # through verbatim); restrict to unique ids BEFORE the join-back
        # or the join would cross-multiply
        exc = exc.join(
            id_n.filter(F.col("__idn") == 1).select(id_col), id_col,
            "left_semi",
        )
        # the operator guarantees byte-identity for untouched docs
        # (clean_text == input text when nothing was excised), so the
        # rebuilt column replaces text unconditionally
        joined = (
            excisable.join(exc, id_col)
            .drop(text_col)
            .withColumnRenamed("__clean", text_col)
            .withColumn("__pt", F.lit(False))
        )
        passthrough = (
            counted.filter(F.col(id_col).isNull() | (F.col("__idn") > 1))
            .drop("__idn")
            .withColumn("n_tokens_removed", F.lit(0).cast("int"))
            .withColumn("n_spans", F.lit(0).cast("int"))
            .withColumn("n_tokens_kept", F.lit(None).cast("int"))
            .withColumn("__pt", F.lit(True))
        )
        # materialize the UNFILTERED result once: the token metrics must
        # count excisions in docs that are then dropped for having no
        # surviving tokens, so they are observed during this checkpoint's
        # pass, before the drop filter; the logged step is a block scan of
        # the checkpoint (the excision plan executes exactly once)
        exc_obs = Observation()
        full, full_ids = eager_checkpoint(
            joined.unionByName(passthrough.select(*joined.columns)).observe(
                exc_obs,
                F.sum("n_tokens_removed").alias("t"),
                F.sum((F.col("n_spans") > 0).cast("long")).alias("d"),
                F.sum(F.col("__pt").cast("long")).alias("p"),
            )
        )
        agg = exc_obs.get
        cur = log(
            "excise_passages",
            full.filter(
                (F.coalesce(F.col("n_spans"), F.lit(0)) == 0)
                | (F.col("n_tokens_kept") > 0)
            ).drop("n_tokens_removed", "n_spans", "n_tokens_kept", "__pt"),
        )
        steps[-1]["tokens_removed"] = int(agg["t"] or 0)
        steps[-1]["docs_with_excisions"] = int(agg["d"] or 0)
        steps[-1]["rows_passthrough"] = int(agg["p"] or 0)
        # the step checkpoint has materialized → the unfiltered frame and
        # the excision's internal gram-start checkpoint are unreachable
        release_blocks(sc, full_ids)
        release_blocks(sc, exc_stats.get("ckpt_block_ids", frozenset()))

    if benchmark is not None:
        from validate_xml_rust_spark.operators.curation import contamination_flags

        flags = contamination_flags(
            cur, benchmark, id_col=id_col, text_col=text_col, n=contamination_n
        )
        clean = flags.filter(~F.col("contaminated")).select(
            F.col(id_col).alias("__kid")
        )
        cur = log(
            "decontaminate",
            cur.join(clean, cur[id_col] == F.col("__kid"), "left_semi"),
        )

    if semantic_benchmark is not None:
        # embedding-space decontamination (the paraphrase/re-tokenize
        # leakage the n-gram step can't see): drop every doc whose
        # embedding sits within semantic_decontam_threshold cosine of
        # ANY benchmark embedding. The benchmark's banded layout +
        # vectors broadcast; the corpus side never shuffles — only the
        # flagged ids come back for the anti join.
        from validate_xml_rust_spark.operators.similarity import (
            semantic_decontaminate,
        )

        hits = semantic_decontaminate(
            cur, semantic_benchmark, id_col=id_col, vec_col=vec_col,
            threshold=semantic_decontam_threshold,
        ).select(F.col("id").alias("__sdid")).distinct()
        cur = log(
            "semantic_decontaminate",
            cur.join(hits, cur[id_col] == F.col("__sdid"), "left_anti"),
        )

    if c4_min_lines is not None:
        # C4 line-level cleaning (Raffel et al. 2020): rewrite text to
        # the kept lines and drop pages failing the page gate. Runs
        # BEFORE the repetition/Gopher/LM judges so they score the
        # cleaned text. Pure codegen filter+rewrite, zero shuffle; the
        # text column is REPLACED (docs failing the page gate — which
        # includes every NULL/empty text — are dropped, so no NULL
        # passthrough contract applies).
        from validate_xml_rust_spark.operators.textstats import (
            C4_COLUMNS,
            c4_rules,
        )

        def _b_c4(frame: DataFrame):
            c4 = c4_rules(frame, text_col, min_lines=c4_min_lines)
            return (
                c4.withColumns(
                    {"__keep_c4": F.col("c4_pass"), text_col: F.col("c4_text")}
                ).drop(*C4_COLUMNS),
                "__keep_c4",
            )

        queue("c4_clean", _b_c4)

    if max_repetition is not None:
        from validate_xml_rust_spark.operators.textstats import (
            REPETITION_COLUMNS,
            repetition_stats,
        )

        def _b_rep(frame: DataFrame):
            rep = repetition_stats(
                frame, text_col, flag_threshold=max_repetition
            )
            return (
                rep.withColumn("__keep_rep", ~F.col("repetitive")).drop(
                    *REPETITION_COLUMNS
                ),
                "__keep_rep",
            )

        queue("repetition_filter", _b_rep)

    if gopher_repetition:
        # Gopher's PUBLISHED repetition thresholds (Rae et al. 2021
        # Table A1: most-common-{2,3,4}-gram char fractions, duplicate-
        # {5,10}-gram char fractions, duplicate line/paragraph counts
        # and char fractions) — NOT the blunt duplicated-unigram flag
        # above. Real prose repeats function words constantly
        # (unigram_rep ≈ 0.4-0.5 on ordinary English), so a 0.2 unigram
        # cut annihilates real text; Gopher's rules are calibrated to
        # pass it. The gopher/web presets use THIS knob; max_repetition
        # stays available as the aggressive spam/boilerplate cut.
        from validate_xml_rust_spark.operators.textstats import (
            REPETITION_COLUMNS,
            repetition_stats,
        )

        def _b_grep(frame: DataFrame):
            rep = repetition_stats(frame, text_col)
            return (
                rep.withColumn(
                    "__keep_grep",
                    F.col("rep_ngram_pass") & F.col("rep_dup_pass"),
                ).drop(*REPETITION_COLUMNS),
                "__keep_grep",
            )

        queue("gopher_repetition_filter", _b_grep)

    if gopher_min_words is not None:
        # Gopher rule-pack quality filter (Rae et al. 2021 A1.1): pure
        # codegen'd Column predicates, so the step is a zero-shuffle
        # scan of the predecessor checkpoint. Sits with the other
        # heuristic quality filters, before the (costlier) LM filter.
        from validate_xml_rust_spark.operators.textstats import gopher_rules

        def _b_gopher(frame: DataFrame):
            g = gopher_rules(frame, text_col, min_words=gopher_min_words)
            return (
                g.withColumn("__keep_gopher", F.col("gopher_pass")).drop(
                    "g_n_words", "g_mean_wl", "g_symbol_ratio",
                    "g_bullet_frac", "g_ellipsis_frac", "g_alpha_frac",
                    "g_stop_hits", "gopher_pass",
                ),
                "__keep_gopher",
            )

        queue("gopher_filter", _b_gopher)

    if max_log_ppl is not None:
        flush()
        # CCNet-style LM filter: drop docs whose bigram-LM log-perplexity
        # against lm_ref exceeds the budget. Docs too short to score
        # (log_ppl NULL, <2 tokens) are KEPT — absence of evidence;
        # length floors belong to the quality/repetition filters. Same
        # id contract as the excise step: only non-NULL UNIQUE ids are
        # scored (lm_perplexity pools bigrams per id, so dup-id rows
        # would blend into one verdict); NULL-id and dup-id rows pass
        # through verbatim.
        if lm_ref is None:
            raise ValueError("max_log_ppl requires lm_ref (reference corpus)")
        from validate_xml_rust_spark.operators.textstats import lm_perplexity

        lm_scorable, lm_pass = _split_scorable(cur, id_col)
        scores = lm_perplexity(
            lm_scorable, lm_ref, id_col=id_col, text_col=text_col
        )
        ok = scores.filter(
            F.col("log_ppl").isNull() | (F.col("log_ppl") <= max_log_ppl)
        ).select(F.col(id_col).alias("__lmid"))
        cur = log(
            "lm_filter",
            lm_scorable.join(
                ok, lm_scorable[id_col] == F.col("__lmid"), "left_semi"
            ).unionByName(lm_pass.select(*lm_scorable.columns)),
        )

    if lm_keep_buckets is not None:
        flush()
        # CCNet bucket filter: keep only the head/middle(/tail) thirds
        # of the per-group perplexity distribution (Wenzek et al. 2019
        # keep head+middle, drop tail). Unscorable docs (<2 tokens,
        # NULL bucket) are KEPT — absence of evidence, as in lm_filter;
        # same NULL/dup-id pass-through contract. The operator's
        # internal score cache is released once the step checkpoint
        # materializes.
        if lm_ref is None:
            raise ValueError("lm_keep_buckets requires lm_ref")
        from validate_xml_rust_spark.operators.textstats import (
            perplexity_buckets,
        )

        pb_scorable, pb_pass = _split_scorable(cur, id_col)
        # NULL group values would never equi-join their cut row and
        # land in 'tail' (perplexity_buckets' documented behavior) —
        # here that would silently DROP every NULL-group doc. Coalesce
        # to a sentinel label so NULL-group docs form their own tercile
        # population instead.
        pb_group = None
        if lm_bucket_group is not None:
            pb_group = "__pbg"
            pb_scorable = pb_scorable.withColumn(
                pb_group,
                F.coalesce(
                    F.col(lm_bucket_group).cast("string"), F.lit("__null__")
                ),
            )
        pb_handles: dict = {}
        pb = perplexity_buckets(
            pb_scorable, lm_ref, id_col=id_col, text_col=text_col,
            group_col=pb_group, handles=pb_handles,
        )
        if pb_group is not None:
            pb_scorable = pb_scorable.drop(pb_group)
        ok_b = pb.filter(
            F.col("ppl_bucket").isNull()
            | F.col("ppl_bucket").isin(*sorted(lm_keep_buckets))
        ).select(F.col(id_col).alias("__pbid"))
        cur = log(
            "ppl_bucket_filter",
            pb_scorable.join(
                ok_b, pb_scorable[id_col] == F.col("__pbid"), "left_semi"
            ).unionByName(pb_pass.select(*pb_scorable.columns)),
        )
        if "scores" in pb_handles:
            pb_handles["scores"].unpersist()

    if sample_rate is not None:
        # hash_sample is a stateless per-row md5-ticket predicate — queue
        # it as a fused filter (membership is content-keyed, so deciding
        # it alongside other narrow flags changes nothing)
        from validate_xml_rust_spark.operators.curation import (
            TICKET_SPACE,
            sample_ticket,
        )

        def _b_sample(frame: DataFrame):
            return (
                frame.withColumn(
                    "__keep_sample",
                    sample_ticket(F.col(id_col))
                    < int(sample_rate * TICKET_SPACE),
                ),
                "__keep_sample",
            )

        queue("sample", _b_sample)

    if dsir_target is not None and dsir_k is not None:
        flush()
        # DSIR importance selection (Xie et al. 2023): keep the dsir_k
        # most target-like rows by hashed-ngram importance weight. Same
        # id contract as lm_filter: only unique non-NULL ids are
        # scorable (the weight groupBy would merge dup-id bags and the
        # key join would drop NULLs) — NULL-id/dup-id rows pass through
        # verbatim, outside the k budget. The ranking score is internal
        # here; step schema is unchanged.
        from validate_xml_rust_spark.operators.curation import dsir_resample

        ds_scorable, ds_pass = _split_scorable(cur, id_col)
        cur = log(
            "dsir_select",
            dsir_resample(
                ds_scorable, dsir_target, k=dsir_k,
                key_col=id_col, text_col=text_col,
            )
            .drop("dsir_score")
            .unionByName(ds_pass.select(*ds_scorable.columns)),
        )

    if pii_redact:
        # PII redaction on the SURVIVORS only (the Dolma position: scrub
        # after filtering so dropped docs never pay the regex pass) and
        # BEFORE mixture replication, so each document's text is
        # redacted exactly once however many epochs copy it. Pure
        # codegen projection (the GATED operator, q:redact_pii) — the
        # step checkpoint materializes the redacted bytes; the per-kind
        # audit counts are a report concern, not pipeline schema, so
        # they are dropped here; rows_in == rows_out by construction.
        from validate_xml_rust_spark.operators.curation import redact_pii

        queue(
            "pii_redact",
            lambda frame: (
                redact_pii(frame, text_col, out_col=text_col).drop(
                    "n_email", "n_ip", "n_phone"
                ),
                None,
            ),
        )

    if mixture is not None:
        flush()
        # weighted mixture composition LAST (the training-mix assembly
        # step): per-source epochs-per-subset replication/sampling. Adds
        # an ``epoch`` column; rows_out can EXCEED rows_in (upsampling —
        # the step's "dropped" goes negative, reading as rows added).
        # Epoch copies of a doc share its pack shard (pack_shard keys on
        # id), which only affects pack adjacency, not budgets.
        from validate_xml_rust_spark.operators.curation import mixture_epochs

        cur = log(
            "mixture",
            mixture_epochs(
                cur, mixture, source_col=mixture_source_col,
                key_col=id_col, default_factor=mixture_default,
            ),
        )

    flush()
    kept_ids = prev_ids
    packs = None
    pack_ids: frozenset = frozenset()
    if pack_max_tokens is not None:
        from validate_xml_rust_spark.operators.curation import pack_sequences
        from validate_xml_rust_spark.operators.textstats import token_stats

        with_tokens = token_stats(cur, text_col).withColumn(
            "partition_id", pack_shard(id_col, pack_shards)
        )
        # packs is checkpointed once: the n_packs count below and the
        # caller's eventual action both read the same materialized blocks,
        # so the reported count and the delivered packs cannot disagree
        packs, pack_ids = eager_checkpoint(
            pack_sequences(with_tokens, pack_max_tokens, id_col=id_col)
        )
        # two-level aggregate over the materialized pack blocks: pack
        # count + mean fill ratio (Σ tokens / (n_packs · budget) — the
        # batch-efficiency number a training run actually cares about).
        # Per-pack partials first — countDistinct alongside sum in one
        # agg would force the two-phase Expand rewrite (repo rule).
        pstats = (
            packs.groupBy("pack_id")
            .agg(F.sum("n_tokens").alias("__t"))
            .agg(
                F.count(F.lit(1)).alias("np"),
                F.sum("__t").alias("tok"),
            )
            .collect()[0]
        )
        n_packs = int(pstats["np"] or 0)
        steps.append(
            {
                "step": "pack",
                "rows_in": n,
                "rows_out": n,
                "dropped": 0,
                "n_packs": n_packs,
                "fill_ratio": (
                    round(
                        float(pstats["tok"] or 0)
                        / (n_packs * pack_max_tokens),
                        6,
                    )
                    if n_packs
                    else 0.0
                ),
            }
        )

    return CurationResult(
        kept=cur, packs=packs, report={"steps": steps},
        _block_ids=kept_ids | pack_ids,
    )
