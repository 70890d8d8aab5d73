"""Capture the physical plans of the engine's headline pipelines into
PLANS.md — the ".explain and iterate" evidence, generated (never
hand-written) so it cannot drift from the code.

Usage: python tools/dump_plans.py
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")


def section(title: str, note: str, plan: str) -> str:
    # literal control bytes (e.g. the \x00/\x01 sentinel tags some
    # operators embed in expressions) would make PLANS.md read as a
    # binary file — escape them to their printable forms
    plan = "".join(
        ch
        if ch in "\n\t" or (32 <= ord(ch) < 0x7F) or ord(ch) > 0x9F
        else f"\\x{ord(ch):02x}"
        for ch in plan
    )
    return f"## {title}\n\n{note}\n\n```\n{plan.strip()}\n```\n"


def main() -> None:
    from pyspark.sql import functions as F

    from validate_xml_rust_spark import get_spark
    from validate_xml_rust_spark.operators.referential import (
        referential_violating_rows,
    )
    from validate_xml_rust_spark.operators.uniqueness import duplicate_keys
    from validate_xml_rust_spark.operators.validate import validate
    from validate_xml_rust_spark.plans import inspect
    from validate_xml_rust_spark.sources.pages import LANGS, pages, with_partition_id
    from validate_xml_rust_spark.specs import Constraint, Spec, SpecRegistry

    spark = get_spark(app_name="dump-plans", cpus=8, shuffle_partitions=8)
    spec = Spec(
        "webpage-v1",
        (
            Constraint("url_not_null", "url", "not_null"),
            Constraint("url_format", "url", "regex", {"pattern": r"^https?://.*"}),
            Constraint("html_utf8", "html", "utf8", severity="error"),
        ),
    )
    registry = SpecRegistry().add(spec, route_keys=LANGS)

    out = [
        "# PLANS — captured physical plans of the headline pipelines\n",
        "Generated by `python tools/dump_plans.py` (do not edit). These are the\n"
        "plans the scale story depends on; tests in\n"
        "tests/test_content_routing_and_report.py assert the same shapes.\n",
    ]

    # 1. content-routed validation: ONE narrow stage, zero exchanges
    df = with_partition_id(pages(spark, 10_000, 8), 16)
    v_content = validate(df, spark, registry, route_mode="content").verdicts
    out.append(
        section(
            "Content-routed validation (flagship)",
            f"Zero shuffle exchanges (counted: {inspect.count_exchanges(v_content)}) — "
            "generate/scan → prologue regex extraction → compiled checks → verdict "
            "projection is one narrow stage; the only exchange in a full run is the "
            "O(partitions) summary aggregation.",
            inspect.physical_plan(v_content)[:4000],
        )
    )

    # 2. column-routed validation: broadcast hash join on the routes dim
    v_col = validate(df, spark, registry).verdicts
    out.append(
        section(
            "Column-routed validation (spec registry join, J1)",
            f"Broadcast exchanges: {inspect.count_broadcast_exchanges(v_col)}; "
            f"shuffle exchanges: {inspect.count_exchanges(v_col)} — the routes "
            "dimension broadcasts, the fact side never shuffles.",
            inspect.physical_plan(v_col)[:4000],
        )
    )

    # 3. parquet scan with pushdown + pruning
    import tempfile

    tmp = tempfile.mkdtemp(prefix="plans_")
    df.write.mode("overwrite").parquet(f"{tmp}/pages")
    scan = (
        spark.read.parquet(f"{tmp}/pages")
        .filter(F.col("lang") == "en")
        .select("url", "lang")
    )
    out.append(
        section(
            "Filtered parquet scan (X8 pushdown + pruning)",
            "PushedFilters carries the lang predicate into the scan; ReadSchema "
            "omits the html/text columns entirely (column pruning — the 2-column "
            "projection reads 2 columns).",
            inspect.pushed_filters(scan) + "\n" + inspect.scan_read_schema(scan),
        )
    )

    # 4. salted uniqueness: two-phase aggregation
    dup = duplicate_keys(df.filter(F.col("url").isNotNull()), ["url"], n_salts=8)
    out.append(
        section(
            "Salted uniqueness (A10)",
            f"Two HashAggregate pairs (salt phase then key phase), exchanges: "
            f"{inspect.count_exchanges(dup)} — the hot key's rows split across "
            "salt buckets before any single reducer sees them.",
            inspect.physical_plan(dup)[:3000],
        )
    )

    # 4b. bloom pre-pass: probe filter ahead of the dup-key shuffle
    dupb = duplicate_keys(
        df.filter(F.col("url").isNotNull()), ["url"], n_salts=8, bloom=True,
        bloom_bits=1 << 18,
    )
    out.append(
        section(
            "Bloom suspected-key pre-pass (uniqueness, bloom=True)",
            "An ArrowEvalPython probe against the broadcast merged bloom "
            "filters the corpus BEFORE any exchange — only suspected keys "
            f"enter the two-phase aggregation (exchanges after the filter: "
            f"{inspect.count_exchanges(dupb)}). The pre-pass itself is one "
            "mapInPandas scan emitting O(partitions) bloom rows; no key "
            "shuffle anywhere except over the suspected subset.",
            inspect.physical_plan(dupb)[:3000],
        )
    )

    # 5. referential anti-join, broadcast
    parents = spark.createDataFrame([("hot.example.com",)], "host string")
    child = df.withColumn("host", F.parse_url("url", F.lit("HOST")))
    anti = referential_violating_rows(child, parents, "host", "host")
    out.append(
        section(
            "Referential check (J3, broadcast anti-join)",
            "BroadcastHashJoin LeftAnti — violations are the survivors; the fact "
            "side streams, the parent key set broadcasts.",
            inspect.physical_plan(anti)[:3000],
        )
    )

    # 6. as-of join: union + single window sort (no UDF)
    from validate_xml_rust_spark.operators.asof import asof_join

    clicks = df.select(F.col("url").alias("event_id"), F.lit("u").alias("user"), F.col("warc_ts").alias("ts"))
    buys = df.select(F.lit("u").alias("user"), F.col("warc_ts").alias("ts"), F.length("url").cast("double").alias("value"))
    aj = asof_join(clicks.limit(100), buys.limit(100), "user", "ts", "ts", ["value"])
    out.append(
        section(
            "As-of join (union + ordered window)",
            f"One shuffle on the join key (exchanges: {inspect.count_exchanges(aj)}), "
            "a single Window sort — the cost profile of a sort-merge join with "
            "no per-group Python (contrast: applyInPandas merge_asof).",
            inspect.physical_plan(aj)[:3000],
        )
    )

    # 6b. chunked as-of join: window partitioned on (key, time-chunk)
    ajc = asof_join(
        clicks.limit(100), buys.limit(100), "user", "ts", "ts", ["value"],
        chunk_seconds=3600,
    )
    out.append(
        section(
            "As-of join, hot-key chunked (window-skew mitigation)",
            f"Exchanges: {inspect.count_exchanges(ajc)} — the main Window "
            "partitions on (key, time-chunk) so one hot key's history splits "
            "across tasks; the boundary-carry window runs over ≤1 row per "
            "(key, active chunk). AQE skew-split does NOT cover window "
            "exchanges, hence this explicit salting (SCALE.md §7).",
            inspect.physical_plan(ajc)[:3000],
        )
    )

    # 6c. vectorized LSH ANN signatures: one ArrowEvalPython, no
    # interpreted per-row array folds
    from validate_xml_rust_spark.operators.similarity import lsh_signature

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 2.0, 3.0]) for i in range(100)],
        "vec_id long, embedding array<float>",
    )
    sig = emb.select("vec_id", lsh_signature(F.col("embedding"), 12).alias("sig"))
    out.append(
        section(
            "LSH signature (Arrow-batched numpy matmul)",
            "One ArrowEvalPython stage computes all 12 plane signs as a "
            "single (batch × dim) @ (dim × planes) matmul per Arrow batch — "
            "the interpreted zip_with/aggregate fold form exists only as the "
            "bit-equality oracle (lsh_signature_expr).",
            inspect.physical_plan(sig)[:2000],
        )
    )

    # 6d. benchmark decontamination: corpus never shuffles
    from validate_xml_rust_spark.operators.curation import contamination_flags

    docs_txt = df.select(F.col("url").alias("doc_id"), F.col("text"))
    bench = docs_txt.limit(20)
    cont = contamination_flags(docs_txt, bench, id_col="doc_id", n=6)
    out.append(
        section(
            "Benchmark decontamination (broadcast n-gram intersection)",
            "The benchmark's n-gram hash set broadcasts; the corpus side is "
            "explode → BroadcastHashJoin → per-doc count — the corpus is "
            "never shuffled, so a 10^12-doc decontamination pass is one scan.",
            inspect.physical_plan(cont)[:3000],
        )
    )

    # 7. generic salted aggregation
    from validate_xml_rust_spark.operators.skew import host_stats_salted

    hs = host_stats_salted(df)
    out.append(
        section(
            "Salted host stats (generic two-phase aggregation)",
            f"Exchanges: {inspect.count_exchanges(hs)} — phase 1 groups on "
            "(host, salt) so the 40%-hot host splits across reducers; phase 2 "
            "merges ≤ n_salts partials per host (HLL sketches union losslessly).",
            inspect.physical_plan(hs)[:3000],
        )
    )

    # 8. url canonicalization → dup groups (scan-side projection + one agg)
    from validate_xml_rust_spark.functions.urlnorm import canonical_dup_groups

    cd = canonical_dup_groups(df)
    out.append(
        section(
            "URL canonicalization → duplicate groups",
            f"Exchanges: {inspect.count_exchanges(cd)} — canonicalization is "
            "one JVM projection inside the scan stage (regex + array "
            "sort/filter; the higher-order array ops are interpreted, not "
            "codegen'd — fine at ~5 ops/url, see CLAUDE.md — and there is "
            "no Python anywhere); the only shuffles are the two-phase "
            "distinct aggregation on the uniform canonical-url hash key.",
            inspect.physical_plan(cd)[:3000],
        )
    )

    # 9. PSI drift: the zero-Python drift check
    from validate_xml_rust_spark.operators.drift import psi_drift_check

    psi = psi_drift_check(
        df.withColumn("partition_id", F.pmod(F.xxhash64("url"), F.lit(8)).cast("int")),
        "lang",
        {"en": 70, "de": 20, "fr": 10},
    )
    out.append(
        section(
            "PSI drift (closed-form, no Python)",
            f"Exchanges: {inspect.count_exchanges(psi)} — one map-side-"
            "combined count aggregation (≤ partitions × categories rows "
            "shuffle), then the literal category grid explodes per "
            "partition-row and every PSI term is a codegen'd expression; "
            "the final per-partition sum reuses the partitioning. No "
            "ArrowEval / BatchEvalPython nodes anywhere in the plan.",
            inspect.physical_plan(psi)[:3000],
        )
    )

    # 10. incremental snapshot-diff validation (reuse join + delta suite)
    from validate_xml_rust_spark.operators.resume import (
        content_fingerprint,
        incremental_verdicts,
    )

    prior_demo = df.limit(1000).select(
        "url", content_fingerprint(["text", "lang"]).alias("content_fp"),
        F.lit("webpage-v1").alias("spec_id"), F.lit("valid").alias("status"),
        F.lit(0).alias("error_count"),
    )
    inc = incremental_verdicts(df, prior_demo, spark, registry, ["text", "lang"])
    out.append(
        section(
            "Incremental snapshot-diff validation",
            f"Exchanges: {inspect.count_exchanges(inc)} — both the reuse "
            "join and the anti-join key on the uniform (id, fingerprint) "
            "pair; the constraint suite evaluates only on the anti-join "
            "(delta) branch, threaded through a composite surrogate key "
            "(no verdict join-back). On Iceberg the anti-join is replaced "
            "by an incremental snapshot-diff scan.",
            inspect.physical_plan(inc)[:3000],
        )
    )

    # 11. functional-dependency check — ONE shuffle (size(collect_set),
    # not a parallel countDistinct which would force the two-exchange
    # distinct rewrite)
    from validate_xml_rust_spark.operators.profile import fd_violations

    fd = fd_violations(df.select("url", "lang"), "url", "lang")
    out.append(
        section(
            "Functional-dependency check (one-shuffle distinct)",
            f"Exchanges: {inspect.count_exchanges(fd)} — n_dependent_values "
            "derives from size(collect_set) in the SAME aggregation as the "
            "row count and examples; partial collect_set dedups map-side, "
            "so the single exchange carries one partially-reduced row per "
            "determinant key per map task.",
            inspect.physical_plan(fd)[:3000],
        )
    )

    # 12. host-quality keep/drop — the per-doc score is pure codegen'd
    # expression work inside the scan; the ONLY exchanges are the salted
    # two-phase aggregation (phase-1 partials bound any hot host)
    from validate_xml_rust_spark.operators.hostquality import (
        host_quality_violations,
    )

    hq = host_quality_violations(
        df.withColumn("source", F.substring("url", 9, 6)),
        group_col="source", min_mean_quality=0.6,
    )
    out.append(
        section(
            "Host-quality keep/drop (salted mean aggregation)",
            f"Exchanges: {inspect.count_exchanges(hq)} — the heuristic "
            "quality score is a codegen'd projection (no Python stage); "
            "the DECIMAL(18,6) partial sums shuffle on (host, salt) then "
            "(host), so a CDN host owning percents of the crawl splits "
            "across n_salts reducers. The mean divides once, in double, "
            "at the final projection (order-independent, engine-exact).",
            inspect.physical_plan(hq)[:3000],
        )
    )

    # 13. contamination length-sweep — per pass: explode streams through a
    # BroadcastHashJoin probe (benchmark gram set), only the per-doc hit
    # counts shuffle; passes union without a barrier
    from validate_xml_rust_spark.operators.curation import contamination_sweep

    bench_demo = df.filter(F.xxhash64("url") % 20 == 3).select(
        F.col("text")
    )
    sweep = contamination_sweep(
        df.select(F.col("url").alias("doc_id"), "text"), bench_demo,
        primary_n=13, min_n=5,
    )
    out.append(
        section(
            "Decontamination n-gram-length sweep",
            f"Exchanges: {inspect.count_exchanges(sweep)} — each length "
            "pass is explode → BroadcastHashJoin against the benchmark's "
            "gram set (corpus side never shuffles its grams); the only "
            "aggregations are the per-doc hit counts (tiny hit stream) "
            "and the final per-doc sum across passes. Short lengths are "
            "read off the BENCHMARK, so extra passes scale with the small "
            "side, not the corpus.",
            inspect.physical_plan(sweep)[:3000],
        )
    )

    # 14. substring passage excision — prefilter semi-join restricts the
    # positional-gram marking to near-dup-involved docs; keeper groupBy
    # and join-back share the uniform gram-hash partitioning; the only
    # Python stages are the two Arrow UDFs (winnow fingerprints once —
    # persisted — and the final rebuild)
    from validate_xml_rust_spark.ckpt import release_blocks
    from validate_xml_rust_spark.operators.dedup import excise_shared_passages
    from validate_xml_rust_spark.sources.corpus import passage_corpus

    exc_st: dict = {}
    exc = excise_shared_passages(passage_corpus(spark, 2000, 8), stats=exc_st)
    out.append(
        section(
            "Substring passage excision (prefilter + marking + rebuild)",
            f"Exchanges: {inspect.count_exchanges(exc)} — the winnow "
            "prefilter is a groupBy on the uniform fingerprint hash plus "
            "a semi-join back (no self-join exists, so it needs no bucket "
            "cap and is exactly lossless); the marking keeper groupBy "
            "(min/max, no distinct-aggregate Expand) and its join-back "
            "key on the uniform gram hash; only marked gram STARTS "
            "reduce per-doc — interval expansion happens inside the one "
            "Arrow rebuild pass, ~min_run× fewer shuffled rows. "
            "No all-pairs path exists anywhere.",
            inspect.physical_plan(exc)[:3000],
        )
    )
    # the plan is captured, exc will never execute — free the marking's
    # eager gram-start checkpoint (materialized at build time)
    release_blocks(spark.sparkContext, exc_st.get("ckpt_block_ids", frozenset()))

    # 15. BPE chunking — ONE ArrowEvalPython (the encode) feeding shared
    # zero-shuffle window expressions; explode_outer defeats the inferred
    # generate filter that would otherwise duplicate the encode below the
    # projection (plan-tested in tests/test_bpe.py)
    from validate_xml_rust_spark.functions.bpe import default_bpe
    from validate_xml_rust_spark.operators.curation import chunk_documents
    from validate_xml_rust_spark.sources.corpus import synthetic_documents

    ch = chunk_documents(
        synthetic_documents(spark, 2000, 8), 40, 8,
        tokenizer="bpe", bpe=default_bpe(spark),
    )
    out.append(
        section(
            "BPE sliding-window chunking (model-real token budgets)",
            f"Exchanges: {inspect.count_exchanges(ch)} — zero shuffle: "
            "one Arrow encode materialized as a plain attribute, then the "
            "same narrow stride-window expressions as the whitespace "
            "path, streaming through the scan straight to the writer.",
            inspect.physical_plan(ch)[:3000],
        )
    )

    # 16. SemDeDup — one shuffle on cluster_id into the applyInPandas
    # prune; the ivf assignment is a single ArrowEvalPython over the scan
    # (centroids live in the UDF closure, no join); kept side is a
    # left-anti against the O(drops) frame
    from validate_xml_rust_spark.operators.similarity import semantic_dedup

    sd = semantic_dedup(
        spark.read.parquet("fixtures/planted_vectors.parquet"),
        threshold=0.9, n_centroids=12, n_iters=3,
    )
    out.append(
        section(
            "SemDeDup semantic dedup (cluster → within-cluster prune)",
            f"Exchanges: {inspect.count_exchanges(sd)} — the prune's "
            "only wide dependency is the cluster_id hash partitioning "
            "into FlatMapGroupsInPandas; within a cluster the cosine "
            "matrix is one blocked BLAS matmul, and the kept output is "
            "a broadcast anti-join on the (small) drop set.",
            inspect.physical_plan(sd)[:3000],
        )
    )

    # 17. LM perplexity — reference counts reduce once (two uniform-key
    # aggregations) and BROADCAST; the corpus side is a narrow bigram
    # explode + two BroadcastHashJoins + one groupBy(doc): the scan
    # streams, no corpus-keyed shuffle besides the final per-doc agg
    from validate_xml_rust_spark.operators.textstats import lm_perplexity

    docs2k = synthetic_documents(spark, 2000, 8)
    lp = lm_perplexity(docs2k, docs2k.filter("doc_id % 3 = 0").select("text"))
    out.append(
        section(
            "Bigram-LM perplexity (CCNet shape: broadcast count maps)",
            f"Exchanges: {inspect.count_exchanges(lp)} — both on the "
            "REFERENCE side (the two tiny count aggregations, reduced "
            "once then broadcast); the corpus side streams through two "
            "BroadcastHashJoins into the per-doc aggregate with no "
            "corpus-keyed shuffle beyond it.",
            inspect.physical_plan(lp)[:3000],
        )
    )

    # 18. Gopher rule pack — every rule a regexp_count/rlike expression:
    # one codegen'd projection over the scan, no HOFs, no Python, no
    # exchange of any kind
    from validate_xml_rust_spark.operators.textstats import gopher_rules

    gr = gopher_rules(synthetic_documents(spark, 2000, 8))
    out.append(
        section(
            "Gopher quality rule pack (pure codegen projection)",
            f"Exchanges: {inspect.count_exchanges(gr)} — zero: all seven "
            "published rules compile to regexp_count/rlike expressions "
            "inside one WholeStageCodegen span over the scan (no "
            "interpreted higher-order array functions — measured ~2.5× "
            "faster than the HOF formulation).",
            inspect.physical_plan(gr)[:3000],
        )
    )

    # 19. Mixture composition — when-chain factor + md5 ticket + explode:
    # narrow generate over the scan, zero exchanges
    from validate_xml_rust_spark.operators.curation import mixture_epochs

    mx = mixture_epochs(
        synthetic_documents(spark, 2000, 8).withColumn(
            "src", F.when(F.col("doc_id") % 2 == 0, "wiki").otherwise("web")
        ),
        {"wiki": 2.5, "web": 0.25}, source_col="src", key_col="doc_id",
    )
    out.append(
        section(
            "Weighted mixture composition (epochs-per-subset)",
            f"Exchanges: {inspect.count_exchanges(mx)} — zero: the "
            "factor lookup is a when-chain literal, the fractional draw "
            "one md5, and the epoch fan-out a Generate over the scan; "
            "output volume is exactly the token-budget arithmetic.",
            inspect.physical_plan(mx)[:3000],
        )
    )

    # 20. DSIR importance selection — the lm_perplexity shape plus a
    # TakeOrdered top-k: both bucket models reduce once and broadcast;
    # the scoring pass never shuffles the corpus
    from validate_xml_rust_spark.operators.curation import dsir_resample

    ds = dsir_resample(
        docs2k, docs2k.filter("doc_id % 3 = 0").select("text"), k=100
    )
    out.append(
        section(
            "DSIR importance resampling (broadcast bucket models + TakeOrdered)",
            f"Exchanges: {inspect.count_exchanges(ds)} — the r7 Arrow "
            "gram pass reduces both bucket models driver-side (exact "
            "integer partial counts; the ≤n_buckets log-ratio table "
            "ships in the scoring task closure), so only the per-key "
            "weight aggregate shuffles; selection is "
            "TakeOrderedAndProject (per-partition top-k + driver merge "
            "— no global sort), and the k winners broadcast back onto "
            "the corpus for the row join.",
            inspect.physical_plan(ds)[:3000],
        )
    )

    # 21. Training-shard manifest — stateless ticket assignment (narrow)
    # + ONE hash aggregation on the uniform shard key
    from validate_xml_rust_spark.operators.outputs import (
        shard_assignments,
        shard_manifest,
    )

    sh, _ = shard_assignments(
        docs2k.withColumn("n_tokens", F.length("text")), n_shards=16
    )
    sm = shard_manifest(sh, 1000)
    out.append(
        section(
            "Training-shard manifest (ticket assignment + uniform-key agg)",
            f"Exchanges: {inspect.count_exchanges(sm)} — one: shard "
            "placement is a stateless md5-ticket projection (no shuffle "
            "to decide where a doc goes), and the manifest is a single "
            "map-side-combined aggregation whose partials are "
            "O(n_shards); the write-side repartition-by-shard is the "
            "only payload movement the sink ever does.",
            inspect.physical_plan(sm)[:3000],
        )
    )

    # 22. Corpus datasheet — all composition sections from ONE
    # grouping-sets Expand; share off the ()-row via a post-agg window
    from validate_xml_rust_spark.operators.profile import corpus_datasheet

    cd = corpus_datasheet(
        docs2k.withColumn("lang", F.lit("en")).withColumn(
            "source", F.lit("web")
        )
    )
    out.append(
        section(
            "Corpus datasheet (single grouping-sets pass)",
            f"Exchanges: {inspect.count_exchanges(cd)} — the grouping-"
            "sets aggregation (Expand factor = n_sections), the post-agg "
            "single-partition window over the TINY aggregated frame for "
            "share, and the percentile aggregate; the corpus is scanned "
            "twice total (sections + percentiles), never per section.",
            inspect.physical_plan(cd)[:3000],
        )
    )

    # 23. Vocabulary drift — the Arrow partial-count pass + ONE map-side-
    # combined (P × n_buckets) count, collected; baseline + statistic both
    # read the collected counts (single corpus pass)
    from validate_xml_rust_spark.operators.drift import vocab_drift

    vd = vocab_drift(
        docs2k.withColumn(
            "partition_id", F.pmod(F.xxhash64("doc_id"), F.lit(8)).cast("int")
        ),
        n_buckets=64,
    )
    out.append(
        section(
            "Vocabulary drift (bucketed token distribution, one corpus pass)",
            f"Exchanges: {inspect.count_exchanges(vd)} — the (P × "
            "n_buckets) counts were COLLECTED and folded on the driver, "
            "so the statistic reads them back as a LocalRelation / "
            "LocalTableScan root: the corpus-sized token count ran "
            "exactly once for baseline AND statistic, nothing stays "
            "persisted, and the visible plan is the tiny grid expansion "
            "over the collected counts.",
            inspect.physical_plan(vd)[:3000],
        )
    )

    # 24. Trainable langid scoring — gram explode (two Generates, no HOF
    # lambdas) → ONE BroadcastHashJoin against the PIVOTED weight table
    # (one row per bucket, L weight columns) → groupBy(id) with L
    # map-side DECIMAL partials → codegen column-argmax
    import tempfile as _tf

    from validate_xml_rust_spark.operators.textstats import (
        langid_predict,
        langid_train,
    )
    from validate_xml_rust_spark.sources.corpus import lang_corpus

    lc = lang_corpus(spark, 2_000, 8)
    lw = langid_train(lc.filter(F.col("doc_id") % 4 != 0))
    lp = langid_predict(lc.filter(F.col("doc_id") % 4 == 0), lw)
    out.append(
        section(
            "Trainable langid scoring (broadcast weights, explode-based grams)",
            f"Exchanges: {inspect.count_exchanges(lp)} (all but one are "
            "≤65536·L-row weight-table construction — training counts, "
            "the per-bucket pivot — and the tiny doc-score aggregate; "
            "the CORPUS crosses exactly one exchange) — gram extraction "
            "is Generate + plain substr projections (whole-stage codegen; "
            "NO interpreted HOF lambdas — the CollapseProject nested-"
            "lambda corruption documented in CLAUDE.md), the weight join "
            "is ONE BroadcastHashJoin against the pivoted per-bucket "
            "table, each probe feeding L DECIMAL sums in one aggregate "
            "hash-table hit; the argmax is a codegen greatest+WHEN chain "
            "— no second join, no per-language row fanout.",
            inspect.physical_plan(lp)[:3000],
        )
    )

    # 25. Signature-store candidate join — the recurring-ingest core
    # loop: the slice's exploded band keys equi-join the store's banded
    # layout (at cluster scale the store is bucketed by key, so only the
    # slice shuffles); history is never re-shingled.
    from validate_xml_rust_spark.functions.texthash import (
        lsh_band_keys,
        minhash_signature,
        shingle_hashes,
    )
    from validate_xml_rust_spark.operators.dedup import (
        SignatureStore,
        incremental_near_dedup,
    )
    from validate_xml_rust_spark.sources.corpus import synthetic_documents

    sdocs = synthetic_documents(spark, 400, 8)
    st = SignatureStore(spark, _tf.mkdtemp(prefix="plans_signstore_"))
    incremental_near_dedup(
        sdocs.filter(F.col("doc_id") % 2 == 0), st, threshold=0.6
    )
    slice_sig = sdocs.filter(F.col("doc_id") % 2 == 1).select(
        F.col("doc_id").alias("__id"),
        minhash_signature(shingle_hashes(F.col("text"), 3), 32).alias("__sig"),
    )
    banded = slice_sig.select(
        "__id", F.explode(lsh_band_keys(F.col("__sig"), 8, 4)).alias("b")
    ).select("__id", F.col("b.band").alias("band"), F.col("b.key").alias("key"))
    cand = banded.join(st.bands_frame(), ["band", "key"]).select(
        F.col("__id").alias("id_new"), F.col("doc_id").alias("id_old")
    )
    out.append(
        section(
            "Incremental near-dedup store-candidate join (slice bands ⋈ store)",
            f"Exchanges: {inspect.count_exchanges(cand)} — the store side "
            "is a plain parquet scan of the committed banded layout "
            "(generation-addressed paths off the catalog); the slice side "
            "is the Arrow MinHash + band explode. The join keys on "
            "(band, key) — uniform hash keys, no skew; a cluster "
            "deployment bucket-sorts the store by key so only the slice "
            "shuffles at 10^12-doc history sizes.",
            inspect.physical_plan(cand)[:3000],
        )
    )

    # 26. PII redaction — three regexp_count probes + the chained
    # three-pattern replace (curation.redact_pii), all inside ONE
    # codegen projection over the scan (no shuffle, no Python); the
    # policy pack's whole cost is the regex automaton over the bytes.
    from validate_xml_rust_spark.operators.curation import redact_pii

    pdf = spark.createDataFrame(
        [(1, "mail a@b.io from 10.1.2.3")], "doc_id long, text string"
    )
    pii_plan = redact_pii(pdf, "text")
    out.append(
        section(
            "PII signal + redaction (single codegen projection)",
            f"Exchanges: {inspect.count_exchanges(pii_plan)} — counts are "
            "measured on the raw text and the redacted bytes are built in "
            "the same projection; patterns live in the java regex ∩ RE2 "
            "subset so the DuckDB oracle restates them verbatim.",
            inspect.physical_plan(pii_plan)[:1500],
        )
    )

    # 27. Semantic decontamination — corpus side: Arrow signature + band
    # explode + ONE BroadcastHashJoin carrying the benchmark vectors for
    # in-place verification; the only exchange is the final distinct on
    # the (tiny) verified hits. The corpus itself never shuffles.
    from validate_xml_rust_spark.operators.similarity import (
        semantic_decontaminate,
    )

    pv = spark.read.parquet("fixtures/planted_vectors.parquet")
    sd = semantic_decontaminate(
        pv.filter(F.col("vec_id") % 5 != 0),
        pv.filter(F.col("vec_id") % 5 == 0),
        threshold=0.9, bits_per_band=4, bands=16,
    )
    out.append(
        section(
            "Semantic decontamination (broadcast benchmark, zero corpus shuffle)",
            f"Exchanges: {inspect.count_exchanges(sd)} — the corpus side "
            "streams scan → Arrow signature → band explode → "
            "BroadcastHashJoin (benchmark bands + vectors) → interpreted "
            "cosine verify on collisions only; the lone exchange is the "
            "hits distinct, sized by the contamination, not the corpus.",
            inspect.physical_plan(sd)[:3000],
        )
    )

    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
