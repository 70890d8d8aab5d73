"""Round-7 optimization parity tests: every rewrite must be
result-identical to the path it replaced (the replaced implementations
are kept in-tree as reference twins)."""

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F


def test_langid_arrow_gram_counts_match_explode_path(spark):
    """gram_bucket_counts over langid's text prep and char grams (Arrow
    partial counts) == the exploded _char_gram_buckets groupBy count,
    row for row — the byte-identity claim behind langid_train."""
    from validate_xml_rust_spark.functions.grambuckets import (
        char_grams,
        gram_bucket_counts,
    )
    from validate_xml_rust_spark.operators.textstats import _char_gram_buckets
    from validate_xml_rust_spark.sources.corpus import lang_corpus

    docs = lang_corpus(spark, 200, n_partitions=4)
    old = (
        _char_gram_buckets(
            docs.filter(F.col("lang").isNotNull()), "text",
            {"__l": F.col("lang")}, (3, 4, 5), 65536, "langid",
        )
        .groupBy("b", "__l")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    new = gram_bucket_counts(
        docs.filter(F.col("lang").isNotNull()),
        F.lower(F.coalesce(F.col("text"), F.lit(""))),
        lambda t: char_grams(t, (3, 4, 5)), 65536, "langid",
        key=F.col("lang"),
    ).withColumnRenamed("__k", "__l")
    diff = (
        old.join(new, ["b", "__l"], "full_outer")
        .filter(~old["__c"].eqNullSafe(new["__c"]))
        .count()
    )
    assert diff == 0


def test_langid_predict_fast_path_matches_expression_path(spark):
    """The scaled-int64 mapInPandas scorer must label every doc exactly
    as the pivoted-DECIMAL expression path does (exact sums, same
    first-tie-ascending argmax), including und for empty/NULL text and
    docs with no trained bucket."""
    from validate_xml_rust_spark.operators.textstats import (
        _langid_predict_exprs,
        langid_predict,
        langid_train,
    )
    from validate_xml_rust_spark.sources.corpus import lang_corpus

    docs = lang_corpus(spark, 200, n_partitions=4)
    w = langid_train(docs.filter(F.col("doc_id") % 4 != 0))
    holdout = docs.filter(F.col("doc_id") % 4 == 0)
    langs = sorted(
        r["lang"] for r in w.select("lang").distinct().collect()
    )
    fast = {
        r["doc_id"]: r["detected_lang"]
        for r in langid_predict(holdout, w).collect()
    }
    slow = {
        r["doc_id"]: r["detected_lang"]
        for r in _langid_predict_exprs(
            holdout, w, langs, "doc_id", "text", "detected_lang",
            (3, 4, 5), 65536, "langid",
        ).collect()
    }
    assert fast == slow and len(fast) > 0

    edge = spark.createDataFrame(
        [(1, None), (2, ""), (3, "the quick brown fox")],
        "doc_id long, text string",
    )
    fe = {
        r["doc_id"]: r["detected_lang"]
        for r in langid_predict(edge, w).collect()
    }
    se = {
        r["doc_id"]: r["detected_lang"]
        for r in _langid_predict_exprs(
            edge, w, langs, "doc_id", "text", "detected_lang",
            (3, 4, 5), 65536, "langid",
        ).collect()
    }
    assert fe == se


def test_curate_fused_narrow_steps_match_sequential_counts(spark):
    """The fused narrow-step segment's per-step lineage counts must equal
    the counts a sequential application of the same operators produces
    (the r7 pipeline fusion's correctness claim), and the kept rows must
    be the sequential survivors."""
    from validate_xml_rust_spark.operators.curation import hash_sample
    from validate_xml_rust_spark.operators.textstats import (
        c4_rules,
        gopher_rules,
        repetition_stats,
    )
    from validate_xml_rust_spark.pipeline import curate
    from validate_xml_rust_spark.sources.corpus import prose_documents

    docs = prose_documents(spark, 400, n_partitions=4)
    res = curate(
        docs, spark, near_dup_threshold=None, c4_min_lines=3,
        gopher_min_words=50, gopher_repetition=True, sample_rate=0.5,
    )
    by_step = {s["step"]: s for s in res.report["steps"]}

    # sequential reference (operators applied one by one)
    from validate_xml_rust_spark.operators.dedup import exact_dedup

    cur = exact_dedup(docs, "doc_id", "text")
    assert by_step["exact_dedup"]["rows_out"] == cur.count()
    c4 = (
        c4_rules(cur, "text", min_lines=3)
        .filter(F.col("c4_pass"))
        .withColumn("text", F.col("c4_text"))
        .select("doc_id", "text")
    )
    assert by_step["c4_clean"]["rows_out"] == c4.count()
    rep = repetition_stats(c4, "text").filter(
        F.col("rep_ngram_pass") & F.col("rep_dup_pass")
    ).select("doc_id", "text")
    assert by_step["gopher_repetition_filter"]["rows_out"] == rep.count()
    gop = gopher_rules(rep, "text", min_words=50).filter(
        F.col("gopher_pass")
    ).select("doc_id", "text")
    assert by_step["gopher_filter"]["rows_out"] == gop.count()
    samp = hash_sample(gop, 0.5, "doc_id")
    assert by_step["sample"]["rows_out"] == samp.count()

    kept_ids = {r["doc_id"] for r in res.kept.select("doc_id").collect()}
    ref_ids = {r["doc_id"] for r in samp.select("doc_id").collect()}
    assert kept_ids == ref_ids
    res.release()


def test_vocab_counts_arrow_matches_exploded_path(spark):
    """gram_bucket_counts over vocab_drift's text prep and word unigrams
    == vocab_bucket_counts + groupBy count, row for row (NULL partition
    ids included)."""
    from validate_xml_rust_spark.functions.grambuckets import (
        gram_bucket_counts,
        word_grams,
    )
    from validate_xml_rust_spark.operators.drift import vocab_bucket_counts
    from validate_xml_rust_spark.sources.corpus import synthetic_documents

    docs = synthetic_documents(spark, 300, n_partitions=4).withColumn(
        "partition_id",
        F.when(F.col("doc_id") % 97 == 0, None).otherwise(
            F.pmod(F.xxhash64("doc_id"), F.lit(7)).cast("int")
        ),
    )
    old = (
        vocab_bucket_counts(docs)
        .groupBy(
            F.col("partition_id").cast("int").alias("__pid"),
            F.col("vocab").alias("__cat"),
        )
        .agg(F.count(F.lit(1)).alias("__n"))
        .withColumn("__pid", F.coalesce(F.col("__pid"), F.lit(-999)))
    )
    new = gram_bucket_counts(
        docs,
        F.lower(F.trim(F.coalesce(F.col("text"), F.lit("")))),
        lambda t: word_grams(t, False), 256, "vocab",
        key=F.col("partition_id").cast("int"),
    ).select(
        F.coalesce(F.col("__k"), F.lit(-999)).alias("__pid"),
        F.col("b").cast("string").alias("__cat"),
        F.col("__c").alias("__n"),
    )
    diff = (
        old.join(new, ["__pid", "__cat"], "full_outer")
        .filter(~old["__n"].eqNullSafe(new["__n"]))
        .count()
    )
    assert diff == 0


def test_dsir_arrow_gram_counts_match_explode_path(spark):
    """gram_bucket_counts over dsir_weights' text prep and word
    unigrams + bigrams == the exploded _dsir_gram_buckets groupBy count,
    row for row — NULL, empty and whitespace-only text included."""
    from validate_xml_rust_spark.functions.grambuckets import (
        gram_bucket_counts,
        word_grams,
    )
    from validate_xml_rust_spark.operators.curation import _dsir_gram_buckets
    from validate_xml_rust_spark.sources.corpus import prose_documents

    edge = spark.createDataFrame(
        [(-1, None), (-2, ""), (-3, "  \t \n "), (-4, " One  TWO, one two! ")],
        "doc_id long, text string",
    )
    docs = prose_documents(spark, 300, n_partitions=4).unionByName(edge)
    old = (
        _dsir_gram_buckets(docs, "text", 4096, "dsir", None)
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    new = gram_bucket_counts(
        docs,
        F.lower(F.trim(F.coalesce(F.col("text"), F.lit("")))),
        lambda t: word_grams(t, True), 4096, "dsir",
    )
    diff = (
        old.join(new, ["b"], "full_outer")
        .filter(~old["__c"].eqNullSafe(new["__c"]))
        .count()
    )
    assert diff == 0
    assert old.count() > 0


def test_winnow_pairs_match_selfjoin_reference(spark):
    """The collect_list pair generation equals the pre-r7 bucket
    self-join, (id_a, id_b, n_shared) for row."""
    from pyspark.storagelevel import StorageLevel

    from validate_xml_rust_spark.operators.dedup import (
        winnow_candidate_pairs,
        winnow_fingerprints,
    )
    from validate_xml_rust_spark.sources.corpus import synthetic_documents

    docs = synthetic_documents(spark, 400, n_partitions=4)
    new = winnow_candidate_pairs(docs, min_shared=2)
    flat = (
        winnow_fingerprints(docs, "doc_id", "text", 3, 4)
        .select("id", F.explode("fingerprints").alias("f"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sizes = flat.groupBy("f").agg(F.count(F.lit(1)).alias("__bw"))
    capped = flat.join(
        sizes.filter(F.col("__bw") <= 1000).drop("__bw"), "f"
    )
    a, b = capped.alias("a"), capped.alias("b")
    ref = (
        a.join(
            b,
            (F.col("a.f") == F.col("b.f")) & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )
    assert new.exceptAll(ref).count() == 0
    assert ref.exceptAll(new).count() == 0
    flat.unpersist()


def test_bigram_strings_match_structs(spark):
    """_bigram_strings + substring_index(bg, ' ', 1) must reproduce the
    _bigram_structs (w1, bg) pairs row for row — the exactness claim
    behind lm_perplexity's r7 string-only bigram emission. Tokens are
    non-empty [a-z0-9]+ runs, so the first space in bg terminates w1;
    covers <2-token docs (empty array) and 1-token count-down guard."""
    from validate_xml_rust_spark.functions.texthash import tokens
    from validate_xml_rust_spark.operators.textstats import (
        _bigram_strings,
        _bigram_structs,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "word"),                      # 1 token → no bigrams
            (3, ""),                          # empty
            (4, None),                        # NULL text
            (5, "a b"),                       # exactly one bigram
            (6, "Hy-phen'd  MIXED   case\t1a2b3c  x"),  # splits + digits
            (7, "dup dup dup dup"),           # repeated grams keep multiplicity
        ],
        "doc_id int, text string",
    )
    base = docs.select("doc_id", tokens(F.col("text")).alias("__w"))
    old = base.select(
        "doc_id", F.explode(_bigram_structs(F.col("__w"))).alias("p")
    ).select("doc_id", F.col("p.w1").alias("w1"), F.col("p.bg").alias("bg"))
    new = base.select(
        "doc_id", F.explode(_bigram_strings(F.col("__w"))).alias("bg")
    ).select(
        "doc_id", F.substring_index(F.col("bg"), " ", 1).alias("w1"), "bg"
    )
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0
    # 9-token doc → 8, 1-token/empty/NULL → 0, "a b" → 1,
    # hy/phen/d/mixed/case/1a2b3c/x → 6, 4×dup → 3
    assert old.count() == new.count() == 8 + 0 + 0 + 0 + 1 + 6 + 3


_TOKEN_TEXT = st.text(
    alphabet=st.one_of(
        st.sampled_from(
            list("abcXYZ019 -'.,\t\n\r\x00\x01\x1b\x7f")
            + ["\u00a0", "\u2003", "\u3000", "\u0130", "\u212a", "\u00df", "Ж"]
        ),
        st.characters(codec="utf-8"),
    ),
    max_size=24,
)


@settings(max_examples=2, deadline=None)
@given(texts=st.lists(st.one_of(st.none(), _TOKEN_TEXT), min_size=200, max_size=200))
def test_tokens_match_python_word_tokens(spark_prop, texts):
    """Spark tokens() == grambuckets.word_tokens over the JVM-lowered,
    trimmed text, row for row, and no token holds whitespace — the
    invariant the Arrow kernels' word grams and _bigram_strings' w1
    recovery rely on. Uppercase, non-Latin, control bytes and NBSP-style
    spaces included; one Spark job per example."""
    from validate_xml_rust_spark.functions.grambuckets import word_tokens
    from validate_xml_rust_spark.functions.texthash import tokens

    df = spark_prop.createDataFrame(
        list(enumerate(texts)), "i int, text string"
    )
    rows = df.select(
        "i",
        tokens(F.col("text")).alias("toks"),
        F.lower(F.trim(F.coalesce(F.col("text"), F.lit("")))).alias("t"),
    ).collect()
    assert len(rows) == len(texts)
    for r in rows:
        assert r["toks"] == word_tokens(r["t"]), (texts[r["i"]], r["t"])
        assert not any(ch.isspace() for tok in r["toks"] for ch in tok)
