"""End-to-end curation pipeline (validate_xml_rust_spark/pipeline.py):
planted corpus in, curated+packed corpus out, lineage report accurate."""

from __future__ import annotations

from pyspark.sql import functions as F

from validate_xml_rust_spark.pipeline import curate
from validate_xml_rust_spark.sources.corpus import expected_pairs, synthetic_documents
from validate_xml_rust_spark.specs import Constraint, Spec, SpecRegistry


def test_curate_end_to_end(spark):
    n = 600
    docs = synthetic_documents(spark, n, 8).withColumn(
        "lang", F.lit("en")
    )
    # benchmark = copies of a few docs → those must be decontaminated away
    bench = docs.filter(F.col("doc_id").isin([5, 11])).select("text")
    spec = Spec(
        "doc-v1",
        (Constraint("text_not_null", "text", "not_null"),),
    )
    reg = SpecRegistry().add(spec, route_keys=["en"])

    res = curate(
        docs, spark, reg,
        benchmark=bench,
        near_dup_threshold=0.6,
        sample_rate=0.5,
        pack_max_tokens=512,
    )
    steps = {s["step"]: s for s in res.report["steps"]}
    assert list(steps) == ["validate", "exact_dedup", "near_dedup",
                           "decontaminate", "sample", "pack"]
    # validate drops nothing (all texts non-null), dedup drops the planted
    # exact dups, near-dedup the near dups, decontamination kills doc 5/11
    exact, near = expected_pairs(n)
    assert steps["validate"]["dropped"] == 0
    assert steps["exact_dedup"]["dropped"] == len(exact)
    assert steps["near_dedup"]["dropped"] >= int(0.9 * len(near))
    assert steps["decontaminate"]["dropped"] >= 2  # 5, 11 (+ any sharing grams)
    kept_ids = {r["doc_id"] for r in res.kept.select("doc_id").collect()}
    assert 5 not in kept_ids and 11 not in kept_ids
    # sample keeps roughly half of what remains
    pre = steps["decontaminate"]["rows_out"]
    assert 0.38 * pre < steps["sample"]["rows_out"] < 0.62 * pre
    # packing covers every surviving doc exactly once, within budget
    packed = res.packs.collect()
    assert {r["doc_id"] for r in packed} == kept_ids
    by_pack: dict = {}
    for r in packed:
        by_pack.setdefault(r["pack_id"], 0)
        by_pack[r["pack_id"]] += r["n_tokens"]
    assert all(t <= 512 for t in by_pack.values())  # 60-word docs ≪ budget
    assert steps["pack"]["n_packs"] == len(by_pack)


def test_curate_single_pass_per_step(spark):
    """Each step's work executes ONCE: an accumulator-traced text column
    counts how many times the source text is actually evaluated across the
    whole curate() call — with per-step eager checkpoints the only
    evaluations are in exact_dedup's source scans (fingerprint groupBy +
    join-back), while the lazy-chain anti-pattern re-derives the full
    lineage at every step count (≥3× more). Plus: the returned frames are
    lineage-free block scans, and a repeat caller action costs exactly one
    job."""
    sc = spark.sparkContext
    acc = sc.accumulator(0)

    @F.udf("string")
    def traced(t):
        acc.add(1)
        return t

    n = 300
    base = spark.range(n).selectExpr(
        "id as doc_id",
        "concat('alpha beta gamma delta epsilon zeta ', cast(id % 250 as string)) as raw",
    )
    docs = base.select("doc_id", traced(F.col("raw")).alias("text"))
    res = curate(
        docs, spark, near_dup_threshold=None, sample_rate=0.5, pack_max_tokens=64
    )
    evals = acc.value
    # measured 3n, all inside exact_dedup's checkpoint (the first pass
    # over the source); the input count() prunes the text column, and
    # sample/pack read the checkpointed blocks (0 source evals). The lazy-chain
    # anti-pattern re-derives exact_dedup at every later step count
    # (≥ 9n) — the bound separates the two shapes cleanly.
    assert evals <= 3 * n, f"source text evaluated {evals} times for {n} rows"
    steps = {s["step"]: s for s in res.report["steps"]}
    assert steps["exact_dedup"]["rows_out"] == 250
    # returned frames are materialized block scans, not re-derivable plans
    for frame in (res.kept, res.packs):
        plan = frame._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" in plan and "Join" not in plan, plan
    # a repeat caller action on kept is exactly one (block-scan) job
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    res.kept.count()
    new_jobs = set(tracker.getJobIdsForGroup(None)) - before
    # ≤2: AQE may split the count into partial + final jobs; a lineage
    # re-derivation (shuffles for dedup + packing) would be many more
    assert len(new_jobs) <= 2, f"expected a block-scan count, saw {len(new_jobs)} jobs"
    res.release()


def test_pack_shard_is_content_derived(spark):
    """pack_id assignment must not depend on physical partitioning: the
    same docs at different parallelism produce identical packs."""
    rows = [(i, "tok " * (5 + i % 7)) for i in range(120)]
    a = spark.createDataFrame(rows, "doc_id long, text string").repartition(2)
    b = spark.createDataFrame(rows, "doc_id long, text string").repartition(11)
    packs_a = curate(a, spark, near_dup_threshold=None, pack_max_tokens=40).packs
    packs_b = curate(b, spark, near_dup_threshold=None, pack_max_tokens=40).packs
    assert sorted(map(tuple, packs_a.collect())) == sorted(map(tuple, packs_b.collect()))


def test_curate_minimal_config(spark):
    # no registry, no benchmark, no sampling: just dedup
    docs = spark.createDataFrame(
        [(0, "a b c d e f"), (1, "a b c d e f"), (2, "x y z w v u")],
        "doc_id long, text string",
    )
    res = curate(docs, spark, near_dup_threshold=None)
    assert [s["step"] for s in res.report["steps"]] == ["exact_dedup"]
    assert res.kept.count() == 2 and res.packs is None


def test_curate_excise_passages_step(spark):
    """Passage excision as a pipeline step: shared passages are cut from
    non-keeper docs, docs excised to nothing drop, lineage carries
    tokens_removed / docs_with_excisions, and the prefilter's internal
    checkpoint blocks are released once the step materializes."""
    from validate_xml_rust_spark.pipeline import curate
    from validate_xml_rust_spark.sources.corpus import passage_corpus

    docs = passage_corpus(spark, 60, 4)
    before = set(
        spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    )
    res = curate(
        docs, spark, near_dup_threshold=None, excise_min_run=8,
        sample_rate=None, pack_max_tokens=None,
    )
    steps = {s["step"]: s for s in res.report["steps"]}
    exc = steps["excise_passages"]
    assert exc["tokens_removed"] > 0
    assert exc["docs_with_excisions"] > 0
    assert exc["dropped"] == 0  # no 60-token doc is fully duplicated
    got = {r["doc_id"]: r["text"] for r in res.kept.collect()}
    assert len(got) == exc["rows_out"]
    # the planted passage survives ONLY in its min-id keeper (id 5 keeps
    # P2; id 17 loses it) and audit columns are shed from the output
    assert "p2x0" in got[5] and "p2x0" not in got[17]
    assert set(res.kept.columns) == {"doc_id", "text"}
    res.release()
    after = set(
        spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    )
    assert after - before == set()  # nothing strands (incl. prefilter ckpt)


def test_curate_excise_drops_fully_duplicated_docs(spark):
    from pyspark.sql import functions as F

    from validate_xml_rust_spark.pipeline import curate

    run = " ".join(f"t{i}" for i in range(10))
    rows = [
        (0, f"a0 a1 {run} a2 a3"),
        (1, run),            # entire doc is the shared passage → dropped
        (2, "b0 b1 b2 b3 b4 b5 b6 b7 b8 b9"),
        (None, "c0 c1 c2"),  # no id → passes through verbatim
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    res = curate(
        df, spark, near_dup_threshold=None, excise_min_run=8,
        sample_rate=None, pack_max_tokens=None,
    )
    kept = {r["doc_id"]: r["text"] for r in res.kept.collect()}
    assert 0 in kept and "t0" in kept[0]  # keeper holds the passage
    assert 1 not in kept                  # excised to zero tokens → dropped
    assert kept[None] == "c0 c1 c2"       # id-less row untouched
    exc = {s["step"]: s for s in res.report["steps"]}["excise_passages"]
    assert exc["dropped"] == 1 and exc["tokens_removed"] == 10
    res.release()


def test_curate_excise_preserves_untouched_text_and_odd_rows(spark):
    """r5 review regressions: (1) duplicate-id rows pass through verbatim
    instead of cross-multiplying in the id join-back, (2) docs with NO
    excision keep their original text byte-for-byte (no corpus-wide
    token-domain rewrite of case/punctuation), (3) docs that already had
    zero tokens are not dropped as if they had been excised to nothing."""
    from validate_xml_rust_spark.pipeline import curate

    run = " ".join(f"s{i}" for i in range(10))
    rows = [
        (0, f"Keep, My Case! {run} Version 2.0"),  # keeper: untouched
        (1, f"unique one {run} unique two"),       # loses the run
        (7, "Dup-id row ALPHA."),                  # duplicate id...
        (7, "Dup-id row BETA."),                   # ...different text
        (9, "???"),                                # zero tokens, never excised
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    res = curate(
        df, spark, near_dup_threshold=None, excise_min_run=8,
        sample_rate=None, pack_max_tokens=None,
    )
    texts: dict = {}
    for r in res.kept.collect():
        texts.setdefault(r["doc_id"], []).append(r["text"])
    # (2) the untouched keeper retains case and punctuation verbatim
    assert texts[0] == [f"Keep, My Case! {run} Version 2.0"]
    # the excised doc is rebuilt in the token domain with the run removed
    assert texts[1] == ["unique one unique two"]
    # (1) both duplicate-id rows survive verbatim — no cross-product
    assert sorted(texts[7]) == ["Dup-id row ALPHA.", "Dup-id row BETA."]
    # (3) the zero-token doc survives (nothing was excised from it)
    assert texts[9] == ["???"]
    exc = {s["step"]: s for s in res.report["steps"]}["excise_passages"]
    assert exc["dropped"] == 0 and exc["rows_passthrough"] == 2
    assert exc["rows_out"] == 5 and exc["docs_with_excisions"] == 1
    res.release()


def test_curate_lm_filter_step(spark):
    """CCNet-style LM filter as a pipeline step: docs unlike the
    reference drop; reference-like docs and unscorable (<2-token) docs
    survive; max_log_ppl without lm_ref is a config error."""
    import pytest

    from validate_xml_rust_spark.pipeline import curate

    ref = spark.createDataFrame(
        [("the quick brown fox jumps over the lazy dog",)] * 3, "text string"
    )
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),  # in-domain
        (1, "quantum flux capacitors destabilize wormhole manifolds"),
        (2, "ok"),  # 1 token → unscorable → kept
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    res = curate(
        df, spark, near_dup_threshold=None, lm_ref=ref, max_log_ppl=1.5,
        sample_rate=None, pack_max_tokens=None,
    )
    kept = {r["doc_id"] for r in res.kept.collect()}
    assert kept == {0, 2}
    lm = {s["step"]: s for s in res.report["steps"]}["lm_filter"]
    assert lm["dropped"] == 1
    res.release()
    with pytest.raises(ValueError, match="lm_ref"):
        curate(df, spark, near_dup_threshold=None, max_log_ppl=1.5)


def test_curate_lm_filter_passthrough_rows(spark):
    """lm_filter honors the pipeline id contract: NULL-id and
    duplicate-id rows pass through verbatim (lm_perplexity pools bigrams
    per id, so a dup-id blend must never gate either row)."""
    from validate_xml_rust_spark.pipeline import curate

    ref = spark.createDataFrame(
        [("the quick brown fox jumps over the lazy dog",)] * 3, "text string"
    )
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "quantum flux capacitors destabilize wormhole manifolds"),
        (None, "xylophone zephyr quagmire boondoggle"),  # NULL id → kept
        (7, "the quick brown fox naps here"),            # dup id...
        (7, "borogoves mimsy outgrabe mome raths"),      # ...both kept
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    res = curate(
        df, spark, near_dup_threshold=None, lm_ref=ref, max_log_ppl=1.5,
        sample_rate=None, pack_max_tokens=None,
    )
    kept = [(r["doc_id"], r["text"]) for r in res.kept.collect()]
    ids = [t[0] for t in kept]
    assert ids.count(7) == 2 and None in ids and 0 in ids
    assert 1 not in ids  # scorable gibberish above budget drops
    lm = {s["step"]: s for s in res.report["steps"]}["lm_filter"]
    assert lm["dropped"] == 1
    res.release()


def test_curate_excise_dup_id_rows_still_feed_detection(spark):
    """Duplicate-id rows cannot be rewritten (they pass through) but
    still count as gram evidence: a passage they share with a unique-id
    doc IS excised from that doc. Keeper = global min id, so here the
    dup-id doc keeps the passage and the unique-id doc loses it."""
    from validate_xml_rust_spark.pipeline import curate

    run = " ".join(f"e{i}" for i in range(10))
    rows = [
        (9, f"u0 u1 {run} u2"),
        (7, f"a0 {run} a1"),   # dup id (min) → passthrough, keeps run
        (7, f"c0 c1 c2 c3"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    res = curate(
        df, spark, near_dup_threshold=None, excise_min_run=8,
        sample_rate=None, pack_max_tokens=None,
    )
    texts: dict = {}
    for r in res.kept.collect():
        texts.setdefault(r["doc_id"], []).append(r["text"])
    assert texts[9] == ["u0 u1 u2"]  # run excised from the unique-id doc
    assert sorted(texts[7]) == [f"a0 {run} a1", "c0 c1 c2 c3"]
    exc = {s["step"]: s for s in res.report["steps"]}["excise_passages"]
    assert exc["docs_with_excisions"] == 1 and exc["tokens_removed"] == 10
    assert exc["rows_passthrough"] == 2 and exc["dropped"] == 0
    res.release()


def test_curate_semantic_dedup_step(spark):
    """SemDeDup as a pipeline step: embedding-space copies that textual
    dedup cannot see collapse to the min-id exemplar; NULL-embedding
    rows survive; the lineage row carries the drop count."""
    from validate_xml_rust_spark.pipeline import curate

    rows = [
        (0, "the cat sat on the mat", [1.0, 0.0, 0.0, 0.0]),
        (1, "a feline rested upon the rug", [1.0, 1e-6, 0.0, 0.0]),
        (2, "spark shuffles partition data", [0.0, 1.0, 0.0, 0.0]),
        (3, "no embedding for this row", None),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, embedding array<float>"
    )
    res = curate(
        df, spark, near_dup_threshold=None, semantic_threshold=0.95,
        semantic_centroids=1, sample_rate=None, pack_max_tokens=None,
    )
    kept = {r["doc_id"] for r in res.kept.collect()}
    assert kept == {0, 2, 3}  # 1 is a semantic copy of 0; 3 unscorable
    sd = {s["step"]: s for s in res.report["steps"]}["semantic_dedup"]
    assert sd["dropped"] == 1
    res.release()


def test_curate_gopher_filter_step(spark):
    good = (
        "the quick brown fox jumps over that lazy dog and it runs away "
        "to be of good cheer with friends nearby every single day here"
    )
    docs = spark.createDataFrame(
        [
            (0, good),
            (1, "- a\n- b\n- c\n- d"),      # all-bullet → dropped
            (2, "42 " * 30),                # numeric words → dropped
            (3, good + " again and again"),
        ],
        "doc_id long, text string",
    )
    res = curate(
        docs, spark,
        near_dup_threshold=None,
        gopher_min_words=10,
        pack_max_tokens=None,
    )
    steps = {s["step"]: s for s in res.report["steps"]}
    assert "gopher_filter" in steps
    assert steps["gopher_filter"]["dropped"] == 2
    kept = {r["doc_id"] for r in res.kept.select("doc_id").collect()}
    assert kept == {0, 3}
    # step is a pure filter: schema unchanged (no g_* columns leak)
    assert set(res.kept.columns) == {"doc_id", "text"}


def test_curate_mixture_step(spark):
    docs = spark.createDataFrame(
        [(i, f"doc number {i} with words", "wiki" if i < 20 else "web")
         for i in range(120)],
        "doc_id long, text string, lang string",
    )
    res = curate(
        docs, spark,
        near_dup_threshold=None,
        mixture={"wiki": 3.0, "web": 0.5},
        pack_max_tokens=32,
    )
    steps = {s["step"]: s for s in res.report["steps"]}
    assert "mixture" in steps
    # 20 wiki × 3 exactly, plus a ~50% web draw; upsampling makes
    # "dropped" negative
    m = steps["mixture"]
    web_n = res.kept.filter(F.col("lang") == "web").count()
    assert m["rows_out"] == 60 + web_n
    assert 25 <= web_n <= 75
    assert m["dropped"] == m["rows_in"] - m["rows_out"]
    assert "epoch" in res.kept.columns
    wiki = res.kept.filter(F.col("lang") == "wiki")
    assert wiki.count() == 60
    assert {r["epoch"] for r in wiki.collect()} == {0, 1, 2}
    # epoch copies still pack (duplicate ids are legal pack entries)
    assert res.packs is not None
    assert res.packs.count() == res.kept.count()


def test_curate_dsir_select_step(spark):
    rows = [(i, f"der hund und die katze nummer {i}", "de") for i in range(10)]
    rows += [(i, f"the cat and the dog number {i}", "en") for i in range(10, 40)]
    rows += [(None, "the null id row", "en"), (5, "duplicate id five", "en")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    target = docs.filter(F.col("lang") == "de")
    res = curate(
        docs, spark,
        near_dup_threshold=None,
        dsir_target=target, dsir_k=8,
    )
    steps = {s["step"]: s for s in res.report["steps"]}
    assert "dsir_select" in steps
    # 8 selected + NULL-id and dup-id rows pass through (3 rows: the
    # NULL plus both id=5 copies)
    assert steps["dsir_select"]["rows_out"] == 8 + 3
    # schema unchanged (no dsir_score leak)
    assert set(res.kept.columns) == {"doc_id", "text", "lang"}
    # the German target rows dominate the selection
    kept_langs = [r["lang"] for r in res.kept.filter(F.col("doc_id").isNotNull()).collect()]
    assert kept_langs.count("de") >= 6


def test_curate_c4_clean_step(spark):
    keep = "\n".join(
        [f"Good sentence number {i} with plenty of words." for i in range(4)]
        + ["bad line"]
    )
    docs = spark.createDataFrame(
        [(0, keep), (1, "Lorem ipsum { short.")],
        "doc_id long, text string",
    )
    res = curate(docs, spark, near_dup_threshold=None, c4_min_lines=3)
    steps = {s["step"]: s for s in res.report["steps"]}
    assert steps["c4_clean"]["rows_out"] == 1
    assert set(res.kept.columns) == {"doc_id", "text"}
    txt = res.kept.collect()[0]["text"]
    assert "bad line" not in txt and txt.count("\n") == 3


def test_curate_ppl_bucket_filter_step(spark):
    ref = spark.createDataFrame(
        [("the cat sat on the mat and the dog sat on the rug",)],
        "text string",
    )
    rows = [(i, "the cat sat on the mat number %d" % i) for i in range(6)]
    rows += [(10 + i, "zebra xylophone quark entropy flux %d" % i) for i in range(3)]
    rows += [(20, "x"), (None, "the null id row")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    before = set(
        spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    )
    res = curate(
        docs, spark,
        near_dup_threshold=None,
        lm_ref=ref, lm_keep_buckets={"head", "middle"},
    )
    steps = {s["step"]: s for s in res.report["steps"]}
    assert "ppl_bucket_filter" in steps
    kept = {r["doc_id"] for r in res.kept.collect()}
    # tail (OOV docs) dropped, reference-like head kept, unscorable
    # (1-token) and NULL-id rows kept
    assert set(range(6)) <= kept
    assert 20 in kept and None in kept
    assert len(kept & {10, 11, 12}) <= 1
    assert steps["ppl_bucket_filter"]["dropped"] >= 2
    res.release()
    after = set(
        spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    )
    assert after - before == set()  # the operator's score cache released


def test_curate_near_dedup_keeper_policy(spark):
    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    docs = spark.createDataFrame(
        [
            (0, base, 1.0),
            (1, base + " longer tail kept", 9.0),
            (5, "different content about ships and sails entirely", 2.0),
        ],
        "doc_id long, text string, q double",
    )
    res = curate(
        docs, spark, near_dup_threshold=0.5, near_dup_keeper_col="q",
    )
    kept = {r["doc_id"] for r in res.kept.collect()}
    assert kept == {1, 5}  # highest-q member kept, not min id


def test_pack_step_reports_fill_ratio(spark):
    docs = spark.createDataFrame(
        [(i, f"doc{i} " + "tok " * 9) for i in range(40)],
        "doc_id long, text string",
    )
    res = curate(
        docs, spark, near_dup_threshold=None, pack_max_tokens=35,
        pack_shards=2,
    )
    pk = [s for s in res.report["steps"] if s["step"] == "pack"][0]
    # 10-token docs in a 35 budget, 2 shards: 3 per pack → fill ~30/35
    assert pk["n_packs"] > 0
    assert 0.5 < pk["fill_ratio"] <= 1.0
    total = sum(r["n_tokens"] for r in res.packs.collect())
    assert pk["fill_ratio"] == round(total / (pk["n_packs"] * 35), 6)


def test_curate_normalize_step_unifies_accent_variants(spark):
    # same text, composed vs decomposed accents: without normalization
    # these are distinct fingerprints; with NFC they dedup to one
    docs = spark.createDataFrame(
        [(0, "café content here"), (1, "café content here")],
        "doc_id long, text string",
    )
    plain = curate(docs, spark, near_dup_threshold=None)
    assert plain.kept.count() == 2
    norm = curate(docs, spark, near_dup_threshold=None, normalize_form="NFC")
    steps = {s["step"]: s for s in norm.report["steps"]}
    assert list(steps)[0] == "normalize"
    assert norm.kept.count() == 1


def test_curate_ppl_bucket_filter_null_group_kept(spark):
    ref = spark.createDataFrame(
        [("the cat sat on the mat and the dog sat on the rug",)],
        "text string",
    )
    rows = [(i, "the cat sat on the mat number %d" % i, "en") for i in range(4)]
    rows += [(10, "the dog sat on the rug too", None)]  # NULL group
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    res = curate(
        docs, spark, near_dup_threshold=None,
        lm_ref=ref, lm_keep_buckets={"head", "middle"},
        lm_bucket_group="lang",
    )
    kept = {r["doc_id"] for r in res.kept.collect()}
    # the NULL-lang doc forms its own tercile population (sole member →
    # head) instead of being silently forced into 'tail' and dropped
    assert 10 in kept
    assert set(res.kept.columns) == {"doc_id", "text", "lang"}


def test_curate_presets(spark):
    """Named recipe presets resolve to the documented step chains and
    run end-to-end; overrides layer on top; ccnet demands lm_ref."""
    import pytest

    from validate_xml_rust_spark.pipeline import CURATE_PRESETS, preset_kwargs

    docs = synthetic_documents(spark, 120, 4)

    res = curate(docs, spark, **preset_kwargs("gopher"))
    g_steps = [s["step"] for s in res.report["steps"]]
    assert g_steps == [
        "exact_dedup", "near_dedup", "gopher_repetition_filter",
        "gopher_filter",
    ]
    res.release()

    res = curate(docs, spark, **preset_kwargs("c4"))
    c_steps = [s["step"] for s in res.report["steps"]]
    assert c_steps == ["normalize", "exact_dedup", "excise_passages", "c4_clean"]
    res.release()

    # overrides win over the preset's values
    kw = preset_kwargs("gopher", near_dup_threshold=None, sample_rate=0.5)
    assert kw["near_dup_threshold"] is None
    res = curate(docs, spark, **kw)
    assert [s["step"] for s in res.report["steps"]] == [
        "exact_dedup", "gopher_repetition_filter", "gopher_filter",
        "sample",
    ]
    res.release()

    # ccnet needs a reference corpus: error without, runs with
    with pytest.raises(ValueError, match="lm_ref"):
        preset_kwargs("ccnet")
    ref = spark.createDataFrame(
        [("the cat sat on the mat and the dog sat on the rug",)],
        "text string",
    )
    # ccnet terciles are grouped per language (the preset's
    # lm_bucket_group="lang"), so the corpus carries a lang column
    docs_l = docs.withColumn(
        "lang", F.when(F.col("doc_id") % 2 == 0, "en").otherwise("de")
    )
    res = curate(docs_l, spark, **preset_kwargs("ccnet", lm_ref=ref))
    assert "ppl_bucket_filter" in [s["step"] for s in res.report["steps"]]
    res.release()

    # the full web chain orders its steps as documented
    res = curate(docs, spark, **preset_kwargs("web"))
    assert [s["step"] for s in res.report["steps"]] == [
        "normalize", "dedup_doc_lines", "exact_dedup", "near_dedup",
        "c4_clean", "gopher_repetition_filter", "gopher_filter",
    ]
    res.release()

    # dolma = web's dedup/quality chain + PII masking on survivors
    res = curate(docs, spark, **preset_kwargs("dolma"))
    assert [s["step"] for s in res.report["steps"]] == [
        "normalize", "dedup_doc_lines", "exact_dedup", "near_dedup",
        "c4_clean", "gopher_repetition_filter", "gopher_filter",
        "pii_redact",
    ]
    res.release()

    with pytest.raises(KeyError, match="unknown preset"):
        preset_kwargs("nope")
    # every registered preset resolves (no stale knob names)
    sig_params = set(curate.__code__.co_varnames[: curate.__code__.co_argcount])
    for name in CURATE_PRESETS:
        for k in CURATE_PRESETS[name]:
            assert k in sig_params, f"{name}: unknown curate() kwarg {k}"


def test_curate_to_shards_end_to_end(spark, tmp_path):
    """The full last mile: preset curation -> training-shard store ->
    self-audit. Pins that the pieces compose (schemas, id contracts)
    without manual glue beyond column selection."""
    from validate_xml_rust_spark.operators.outputs import (
        verify_shards,
        write_training_shards,
    )
    from validate_xml_rust_spark.pipeline import preset_kwargs

    # a corpus that PASSES the Gopher pack (the synthetic fixture corpus
    # has no English stopwords, so the preset correctly rejects it):
    # low repetition, ≥2 stopwords, alphabetic, 3-10 mean word length
    docs = spark.createDataFrame(
        [
            (
                i,
                f"the document {i} and the corpus have that value with "
                f"some unique tokens alpha{i} beta{i} gamma{i} delta{i} "
                f"epsilon{i} zeta{i} eta{i} theta{i}",
            )
            for i in range(300)
        ],
        "doc_id long, text string",
    )
    res = curate(docs, spark, **preset_kwargs("gopher", gopher_min_words=2))
    kept = res.kept.withColumn("n_tokens", F.length("text").cast("int"))
    out = str(tmp_path / "train")
    m = write_training_shards(kept, out, tokens_per_shard=3000)
    n_kept = res.kept.count()
    assert n_kept == 300  # nothing in this corpus trips the filters
    assert spark.read.parquet(f"{out}/shards").count() == n_kept
    assert sum(r["n_docs"] for r in m.collect()) == n_kept
    v = verify_shards(spark, out, 3000)
    assert {r["status"] for r in v.collect()} == {"valid"}
    res.release()


def test_curate_dedup_doc_lines_step(spark):
    """Within-doc line dedup as a curate step: spammy repeats collapse
    BEFORE corpus dedup so a spammed page and its clean twin land in
    the same fingerprint group; row count never changes at this step."""
    rows = [
        (1, "promo line\nbody one\npromo line\npromo line"),
        (2, "promo line\nbody one"),  # clean twin of doc 1
        (3, "unique content here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    res = curate(docs, spark, dedup_doc_lines=True, near_dup_threshold=None)
    steps = {s["step"]: s for s in res.report["steps"]}
    assert steps["dedup_doc_lines"]["dropped"] == 0
    # after line dedup, docs 1 and 2 are byte-identical -> exact dedup
    # collapses them to one
    assert steps["exact_dedup"]["dropped"] == 1
    kept = sorted(r["doc_id"] for r in res.kept.collect())
    assert len(kept) == 2 and 3 in kept
    res.release()


def test_curate_url_and_license_policy_steps(spark):
    """The crawl-side policy steps (domain blocklist, robots exclusion,
    license allow-list) run FIRST, log their step rows, and strip their
    signal columns from the kept schema; missing columns are config
    errors, not silent no-ops."""
    import pytest
    from pyspark.sql import functions as F

    from validate_xml_rust_spark.pipeline import curate

    docs = spark.createDataFrame(
        [
            (0, "https://ok.example.com/a",
             '<a rel="license" href="https://creativecommons.org/licenses/by/4.0/">x</a>',
             "alpha beta gamma"),
            (1, "https://bad.example.com/b",
             '<a href="https://creativecommons.org/licenses/by/4.0/">x</a>',
             "delta epsilon zeta"),
            (2, "https://robots.example.org/c",
             '<a href="https://creativecommons.org/licenses/by/4.0/">x</a>',
             "eta theta iota"),
            (3, "https://ok.example.com/d",
             '<a href="https://creativecommons.org/licenses/by-nc/2.0/">x</a>',
             "kappa lambda mu"),
        ],
        "doc_id long, url string, html string, text string",
    )
    bl = spark.createDataFrame([("bad.example.com",)], "domain string")
    rb = spark.createDataFrame([("robots.example.org",)], "domain string")
    res = curate(
        docs, spark,
        near_dup_threshold=None,
        blocked_domains=bl, robots_domains=rb,
        license_allow=("cc-by-4.0",),
    )
    names = [s["step"] for s in res.report["steps"]]
    assert names[:3] == ["domain_blocklist", "robots_filter", "license_filter"]
    kept = {r["doc_id"] for r in res.kept.collect()}
    # 1 blocklisted, 2 robots-excluded, 3 wrong license → only 0 survives
    assert kept == {0}
    assert set(res.kept.columns) == {"doc_id", "url", "html", "text"}
    res.release()

    # config errors: the needed columns must exist
    with pytest.raises(ValueError, match="'url' column"):
        curate(docs.drop("url"), spark, near_dup_threshold=None,
               blocked_domains=bl).release()
    with pytest.raises(ValueError, match="'html' column"):
        curate(docs.drop("html"), spark, near_dup_threshold=None,
               license_allow=("cc-by-4.0",)).release()


def test_published_packs_keep_prose_corpus(spark):
    """Regression for the r6 preset-bench bug: the published packs are
    designed to annihilate raw synthetic word soup (C4 keeps 0 lines —
    no terminal punctuation; Gopher drops every doc — no stopword hits),
    so pack benchmarks/tests must run over the prose-shaped corpus,
    which they KEEP at realistic rates."""
    from validate_xml_rust_spark.operators.textstats import (
        c4_rules,
        gopher_rules,
        repetition_stats,
    )
    from validate_xml_rust_spark.sources.corpus import (
        prose_documents,
        synthetic_documents,
    )

    raw = synthetic_documents(spark, 200, 4)
    prose = prose_documents(spark, 200, 4)
    n = prose.count()
    assert n == 200

    # raw soup: annihilated (the trap this test pins)
    assert c4_rules(raw, min_lines=3).filter(F.col("c4_pass")).count() == 0
    assert (
        gopher_rules(raw, min_words=50).filter(F.col("gopher_pass")).count()
        == 0
    )
    # prose shape: kept at realistic rates by ALL THREE judges
    assert c4_rules(prose, min_lines=3).filter(F.col("c4_pass")).count() == n
    assert (
        gopher_rules(prose, min_words=50).filter(F.col("gopher_pass")).count()
        > 0.8 * n
    )
    rep = repetition_stats(prose)
    assert (
        rep.filter(F.col("rep_ngram_pass") & F.col("rep_dup_pass")).count()
        > 0.8 * n
    )


def test_curate_observed_counts_match_checkpoint_counts(spark, monkeypatch):
    """Step counts are observed during each checkpoint's own pass; they
    equal a count()/aggregate over the materialized checkpoint (the way
    they were once taken). The corpus has NULL texts, NULL ids (whose
    sample flag evaluates NULL) and planted near-duplicates, so every
    filtering step, near-dedup included, drops rows."""
    from validate_xml_rust_spark import pipeline
    from validate_xml_rust_spark.sources.corpus import prose_documents

    base = prose_documents(spark, 200, 2)
    near = base.filter(F.col("doc_id") < 25).select(
        (F.col("doc_id") + 100_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" and the end of it.")).alias("text"),
    )
    no_text = spark.range(5).select(
        (F.col("id") + 200_000).alias("doc_id"), F.lit(None).cast("string").alias("text")
    )
    no_id = base.filter(F.col("doc_id").between(30, 39)).select(
        F.lit(None).cast(base.schema["doc_id"].dataType).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" Written by someone else.")).alias("text"),
    )
    docs = base.unionByName(near).unionByName(no_text).unionByName(no_id)

    checkpoints = []
    real = pipeline.eager_checkpoint

    def recording(frame):
        out, ids = real(frame)
        cum, sums = None, []
        for flag in (c for c in out.columns if c.startswith("__keep")):
            cum = F.col(flag) if cum is None else cum & F.col(flag)
            sums.append(F.sum(cum.cast("long")))
        row = out.agg(
            F.count(F.lit(1)), F.sum(F.col("doc_id").isNull().cast("long")), *sums
        ).collect()[0]
        checkpoints.append([int(v or 0) for v in row])
        return out, ids

    monkeypatch.setattr(pipeline, "eager_checkpoint", recording)
    res = curate(
        docs, spark, normalize_form="NFC", dedup_doc_lines=True,
        near_dup_threshold=0.8, c4_min_lines=3, gopher_min_words=50,
        gopher_repetition=True, sample_rate=0.7, pii_redact=True,
    )
    segments = [
        ["normalize", "dedup_doc_lines"], ["exact_dedup"], ["near_dedup"],
        ["c4_clean", "gopher_repetition_filter", "gopher_filter", "sample",
         "pii_redact"],
    ]
    transforms = {"normalize", "dedup_doc_lines", "pii_redact"}
    assert [s["step"] for s in res.report["steps"]] == sum(segments, [])
    assert len(checkpoints) == len(segments)
    expected, n = [], docs.count()
    for names, (rows, _, *flag_sums) in zip(segments, checkpoints):
        for name in names:
            if len(names) == 1:
                m = rows
            elif name in transforms:
                m = n
            else:  # fused filters own one cumulative flag sum each, in order
                m = flag_sums.pop(0)
            expected.append({"step": name, "rows_in": n, "rows_out": m,
                             "dropped": n - m})
            n = m
    assert res.report["steps"] == expected
    steps = {s["step"]: s for s in res.report["steps"]}
    assert steps["near_dedup"]["dropped"] > 0
    assert res.kept.count() == n
    # the NULL-id rows reach the fused quality segment, and their NULL
    # sample flag drops them
    assert checkpoints[-1][1] == 10
    assert res.kept.filter(F.col("doc_id").isNull()).count() == 0
    res.release()
