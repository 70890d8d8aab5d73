"""Curation operators: deterministic sampling, decontamination, PII
redaction (operators/curation.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from validate_xml_rust_spark.operators.curation import (
    contamination_flags,
    hash_sample,
    redact_pii,
    stratified_sample,
)


def test_hash_sample_deterministic_and_partition_invariant(spark):
    df = spark.range(0, 4000).withColumnRenamed("id", "k")
    s1 = {r["k"] for r in hash_sample(df.repartition(1), 0.3, "k").collect()}
    s8 = {r["k"] for r in hash_sample(df.repartition(8), 0.3, "k").collect()}
    assert s1 == s8  # membership is content-keyed, not partition-keyed
    # rate lands near the target (md5 tickets are uniform)
    assert 0.25 < len(s1) / 4000 < 0.35
    # monotone: a 10% sample is a subset of the 30% sample (same seed)
    s_small = {r["k"] for r in hash_sample(df, 0.1, "k").collect()}
    assert s_small <= s1
    # different seed → different sample
    s_seed = {r["k"] for r in hash_sample(df, 0.3, "k", seed="other").collect()}
    assert s_seed != s1


def test_stratified_sample_rates(spark):
    rows = [(i, "en" if i % 2 == 0 else ("de" if i % 4 == 1 else "fr"))
            for i in range(8000)]
    df = spark.createDataFrame(rows, "k long, lang string")
    out = stratified_sample(
        df, "lang", {"en": 0.5, "de": 0.1}, key_col="k", default_rate=0.0
    )
    got = {r["lang"]: r["n"] for r in
           out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert 0.44 < got["en"] / 4000 < 0.56
    assert 0.05 < got["de"] / 2000 < 0.16
    assert "fr" not in got  # default_rate 0 drops absent strata entirely


def test_contamination_flags_planted(spark):
    bench = spark.createDataFrame(
        [(0, "the secret benchmark passage about unusual zebras dancing on tables")],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            (1, "prefix words then the secret benchmark passage about unusual "
                "zebras dancing on tables and a suffix"),       # contains it
            (2, "entirely unrelated content with no overlap whatsoever in any "
                "eight gram window of this text at all here"),  # clean
            (3, "short doc"),                                   # < n words, no match
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: (r["contaminated"], r["n_contaminated_ngrams"])
           for r in contamination_flags(docs, bench, n=8).collect()}
    assert out[1][0] is True and out[1][1] >= 1
    assert out[2] == (False, 0)
    assert out[3] == (False, 0)
    # every doc in the input appears exactly once in the output
    assert set(out) == {1, 2, 3}


def test_redact_pii_counts_and_output(spark):
    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@test-site.org or x@y.io, server 192.168.1.10, "
                "call 555-123-4567 twice: 555-123-4567"),
            (2, "no pii here; version 1.2 is not an ip and 12-34 not a phone"),
            (3, None),
        ],
        "id long, text string",
    )
    out = {r["id"]: r for r in redact_pii(df).collect()}
    r1 = out[1]
    assert (r1["n_email"], r1["n_ip"], r1["n_phone"]) == (2, 1, 2)
    assert "<EMAIL>" in r1["redacted"] and "<IP>" in r1["redacted"]
    assert "555-123-4567" not in r1["redacted"]
    assert "@" not in r1["redacted"]
    r2 = out[2]
    assert (r2["n_email"], r2["n_ip"], r2["n_phone"]) == (0, 0, 0)
    assert r2["redacted"] == "no pii here; version 1.2 is not an ip and 12-34 not a phone"
    assert out[3]["redacted"] == ""  # null text → empty, never a failure


def test_pack_sequences_properties(spark):
    """Packing invariants: budget respected (unless a single doc exceeds
    it), packs are contiguous id runs within a partition, every doc packed
    exactly once, oversized docs isolated."""
    from validate_xml_rust_spark.operators.curation import pack_sequences

    rows = [(i, i % 2, 300 + (i * 97) % 500) for i in range(200)]
    rows.append((1000, 0, 5000))  # oversized doc: own pack
    df = spark.createDataFrame(rows, "doc_id long, partition_id int, n_tokens int")
    out = pack_sequences(df, max_tokens=2048).collect()
    assert len(out) == len(rows)
    by_pack: dict = {}
    for r in out:
        by_pack.setdefault(r["pack_id"], []).append(r)
    for pack in by_pack.values():
        total = sum(r["n_tokens"] for r in pack)
        assert total <= 2048 or len(pack) == 1  # budget or singleton
        ids = sorted(r["doc_id"] for r in pack)
        pid = pack[0]["partition_id"]
        assert all(r["partition_id"] == pid for r in pack)
        # contiguity: no other doc of this partition falls inside the range
        in_range = [r for r in out if r["partition_id"] == pid
                    and ids[0] <= r["doc_id"] <= ids[-1]]
        assert sorted(r["doc_id"] for r in in_range) == ids
    big = [r for r in out if r["doc_id"] == 1000]
    assert len(by_pack[big[0]["pack_id"]]) == 1


def test_contamination_plan_broadcasts_benchmark(spark):
    """The corpus side must never shuffle: the benchmark gram set is the
    broadcast side of the join."""
    docs = spark.createDataFrame(
        [(i, "some words repeated here for doc %d padding out the text" % i)
         for i in range(50)],
        "doc_id long, text string",
    )
    bench = docs.filter("doc_id < 3")
    out = contamination_flags(docs, bench, n=4)
    plan = out._jdf.queryExecution().sparkPlan().toString()
    assert "BroadcastHashJoin" in plan
    # the corpus gram stream reaches the broadcast probe WITHOUT any
    # exchange: per-doc grams are already distinct, so the only shuffles
    # in the whole plan are over the tiny hit/bench streams
    corpus_side = plan.split("BroadcastHashJoin")[-1]
    n_exchanges = plan.count("Exchange") - plan.count("BroadcastExchange")
    assert n_exchanges <= 2, plan  # hit-count agg + final id join only


def test_boilerplate_lines_threshold(spark):
    from validate_xml_rust_spark.operators.curation import boilerplate_lines

    rows = [(i, "FOOTER\nunique-%d" % i) for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # FOOTER in 5 docs: > 4 trips, > 5 does not
    assert [r["line"] for r in boilerplate_lines(df, max_doc_freq=4).collect()] == [
        "FOOTER"
    ]
    assert boilerplate_lines(df, max_doc_freq=5).count() == 0
    # doc_freq counts DISTINCT docs, not occurrences
    rep = spark.createDataFrame(
        [(0, "X\nX\nX"), (1, "X")], "doc_id long, text string"
    )
    got = boilerplate_lines(rep, max_doc_freq=1).collect()
    assert got == [] or all(r["doc_freq"] == 2 for r in got)
    assert boilerplate_lines(rep, max_doc_freq=1).count() == 1


def test_strip_boilerplate_order_and_structure(spark):
    from validate_xml_rust_spark.operators.curation import strip_boilerplate

    footer = "(c) example"
    rows = [(i, f"{footer}\nline a {i}\n\n  line b {i}") for i in range(12)]
    rows.append((99, footer))  # every line boilerplate → doc vanishes
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["clean_text"] for r in strip_boilerplate(df, max_doc_freq=10).collect()}
    # per-document contract: the fully-boilerplate doc SURVIVES, emptied
    assert out[99] == ""
    # footer stripped; empty line and indentation preserved, order intact
    assert out[3] == "line a 3\n\n  line b 3"
    assert len(out) == 13


def test_chunk_documents_stride_and_edges(spark):
    from validate_xml_rust_spark.operators.curation import chunk_documents

    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),  # 10 tokens
            (2, "x y"),                  # shorter than one chunk
            (3, ""),                     # zero tokens → no chunks
            (4, None),                   # null → no chunks
        ],
        "doc_id long, text string",
    )
    out = chunk_documents(df, chunk_tokens=4, overlap=1)
    rows = sorted(
        (r["doc_id"], r["chunk_idx"], r["chunk_text"], r["n_tokens"])
        for r in out.collect()
    )
    # stride 3: starts 0,3,6 — the window starting at 6 reaches the end,
    # so no redundant trailing fragment is emitted
    assert rows == [
        (1, 0, "a b c d", 4),
        (1, 1, "d e f g", 4),
        (1, 2, "g h i j", 4),
        (2, 0, "x y", 2),
    ]
    # overlap bound enforced
    import pytest

    with pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=4, overlap=4)


def test_mixture_epochs_upsamples_and_downsamples(spark):
    from validate_xml_rust_spark.operators.curation import mixture_epochs

    n = 400
    rows = [(i, "en" if i % 2 == 0 else "web") for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = mixture_epochs(
        df, {"en": 2.5, "web": 0.25}, source_col="source", key_col="doc_id"
    )
    per = {
        (r["doc_id"]): r["n"]
        for r in out.groupBy("doc_id").agg(F.count("*").alias("n")).collect()
    }
    en_ids = [i for i in range(n) if i % 2 == 0]
    web_ids = [i for i in range(n) if i % 2 == 1]
    # every en row has 2 or 3 copies; roughly half have 3
    assert all(per[i] in (2, 3) for i in en_ids)
    frac3 = sum(1 for i in en_ids if per[i] == 3) / len(en_ids)
    assert 0.3 < frac3 < 0.7
    # web rows appear at most once, ~25% of them
    kept_web = [i for i in web_ids if i in per]
    assert all(per[i] == 1 for i in kept_web)
    assert 0.1 < len(kept_web) / len(web_ids) < 0.45
    # epochs are dense from 0
    eps = {
        r["epoch"]
        for r in out.filter(F.col("doc_id") == en_ids[0]).collect()
    }
    assert eps in ({0, 1}, {0, 1, 2})
    # determinism: same plan re-built → identical membership
    out2 = mixture_epochs(
        df, {"en": 2.5, "web": 0.25}, source_col="source", key_col="doc_id"
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, out2.collect()))


def test_mixture_epochs_default_and_zero_factor(spark):
    from validate_xml_rust_spark.operators.curation import mixture_epochs

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id long, source string"
    )
    # default_factor=1.0: unlisted sources pass through exactly once
    out = mixture_epochs(df, {"a": 0.0}, source_col="source", key_col="doc_id")
    got = {(r["doc_id"], r["epoch"]) for r in out.collect()}
    assert got == {(2, 0), (3, 0)}
    # default_factor=0.0 with empty factors drops everything
    assert (
        mixture_epochs(
            df, {}, source_col="source", key_col="doc_id", default_factor=0.0
        ).count()
        == 0
    )
    import pytest as _pytest

    with _pytest.raises(ValueError):
        mixture_epochs(df, {"a": -1.0}, source_col="source", key_col="doc_id")


def test_mixture_epochs_null_source_and_null_key(spark):
    from validate_xml_rust_spark.operators.curation import mixture_epochs

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (None, "a")],
        "doc_id long, source string",
    )
    # NULL source = unlisted → default factor applies (here 1.0)
    out = {
        (r["doc_id"], r["epoch"])
        for r in mixture_epochs(
            df, {"a": 2.0}, source_col="source", key_col="doc_id"
        ).collect()
    }
    assert out == {(1, 0), (1, 1), (2, 0), (None, 0), (None, 1)}
    # NULL key with a fractional factor: floor copies survive, no
    # fractional draw (deterministic, never a silent drop)
    out2 = {
        (r["doc_id"], r["epoch"])
        for r in mixture_epochs(
            df, {"a": 1.9}, source_col="source", key_col="doc_id"
        ).collect()
        if r["doc_id"] is None
    }
    assert out2 == {(None, 0)}


def _dsir_corpus(spark):
    # 0-3 German-ish (target vocab), 4-7 English-ish, 8 empty, 9 NULL
    rows = [
        (0, "der hund und die katze und der vogel", "de"),
        (1, "die sonne und der mond und die sterne", "de"),
        (2, "der baum und die blume und der garten", "de"),
        (3, "die stadt und der fluss und die brücke", "de"),
        (4, "the cat and the dog and the bird", "en"),
        (5, "the sun and the moon and the stars", "en"),
        (6, "der hund und the cat zusammen", "mix"),
        (7, "completely unrelated zebra xylophone quark", "en"),
        (8, "", "en"),
        (9, None, "en"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_dsir_weights_orders_by_target_likeness(spark):
    from validate_xml_rust_spark.operators.curation import dsir_weights

    docs = _dsir_corpus(spark)
    target = docs.filter(F.col("lang") == "de")
    got = {r["doc_id"]: r for r in dsir_weights(docs, target).collect()}
    assert len(got) == 10
    # equal-length docs: pure-target beats pure-English outright; logw is
    # a bag-likelihood SUM, so cross-length comparisons go per-gram
    assert got[0]["logw"] > got[4]["logw"]
    per_gram = {k: r["logw"] / r["n_grams"] for k, r in got.items() if r["n_grams"]}
    assert per_gram[0] > per_gram[6] > per_gram[4]
    assert per_gram[6] > per_gram[7]
    # gram-less docs: neutral evidence
    assert got[8]["logw"] == 0.0 and got[8]["n_grams"] == 0
    assert got[9]["logw"] == 0.0 and got[9]["n_grams"] == 0
    # bag size: unigrams + bigrams (doc 7: 5 words -> 5 + 4)
    assert got[7]["n_grams"] == 9


def test_dsir_resample_topk_and_gumbel(spark):
    from validate_xml_rust_spark.operators.curation import (
        dsir_resample,
        dsir_weights,
    )

    docs = _dsir_corpus(spark)
    target = docs.filter(F.col("lang") == "de")
    hard = dsir_resample(docs, target, k=4, gumbel=False)
    assert hard.count() == 4
    # hard top-4 = top-4 by (logw desc, key) from the weights frame
    # (gram-less docs sit at neutral 0 and may legitimately outrank
    # negative-sum docs — DSIR composes AFTER quality/length filters)
    w = dsir_weights(docs, target).collect()
    expect = {
        r["doc_id"]
        for r in sorted(w, key=lambda r: (-round(r["logw"], 6), r["doc_id"]))[:4]
    }
    assert {r["doc_id"] for r in hard.collect()} == expect
    # all original columns survive, plus the ranking score
    assert set(hard.columns) == {"doc_id", "text", "lang", "dsir_score"}

    soft = dsir_resample(docs, target, k=6, seed="dsir")
    assert soft.count() == 6
    # deterministic: same seed, same selection, run-over-run
    again = {r["doc_id"] for r in dsir_resample(docs, target, k=6).collect()}
    assert {r["doc_id"] for r in soft.collect()} == again

    # raw-stats-on-a-sample path still scores every row
    w = dsir_weights(docs, target, raw_sample_rate=0.5)
    assert w.count() == 10


def test_normalize_text_forms_and_options(spark):
    from validate_xml_rust_spark.operators.curation import normalize_text

    rows = [
        (0, "café Å"),      # decomposed accent + Angstrom sign
        (1, "ﬁle STRASSE"),        # fi ligature (NFKC-only fold)
        (2, None),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    nfc = {r["doc_id"]: r["text"] for r in normalize_text(d).collect()}
    assert nfc[0] == "café Å"
    assert nfc[1] == "ﬁle STRASSE"   # ligature survives NFC
    assert nfc[2] is None
    nfkc = {
        r["doc_id"]: r["text"]
        for r in normalize_text(d, form="NFKC").collect()
    }
    assert nfkc[1] == "file STRASSE"
    stripped = {
        r["doc_id"]: r["text"]
        for r in normalize_text(d, strip_accents=True, lower=True).collect()
    }
    assert stripped[0] == "cafe a"
    # idempotence: normalize(normalize(x)) == normalize(x)
    once = normalize_text(d)
    twice = {r["doc_id"]: r["text"] for r in normalize_text(once).collect()}
    assert twice == nfc
    # out_col leaves the source column untouched
    both = normalize_text(d, out_col="norm").collect()[0]
    assert both["text"] == "café Å" and both["norm"] == "café Å"


def test_normalize_text_is_idempotent_under_all_options(spark):
    from validate_xml_rust_spark.operators.curation import normalize_text

    rows = [
        (0, "J̌Á Café"),  # J+caron: casefold then NFC composes
        (1, "ﬁle STRASSE Å"),
        (2, "ǰ já"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    for kw in (
        {"form": "NFC", "lower": True},
        {"form": "NFC", "lower": True, "strip_accents": True},
        {"form": "NFD", "strip_accents": True},
        {"form": "NFKC", "lower": True},
    ):
        once = normalize_text(d, **kw)
        a = {r["doc_id"]: r["text"] for r in once.collect()}
        b = {r["doc_id"]: r["text"] for r in normalize_text(once, **kw).collect()}
        assert a == b, kw
    # the J+caron casefold really composes under NFC+lower
    out = {r["doc_id"]: r["text"] for r in normalize_text(d, lower=True).collect()}
    assert out[0].startswith("ǰ")


def test_dedup_lines_within_doc(spark):
    from validate_xml_rust_spark.operators.curation import (
        dedup_lines_within_doc,
    )

    rows = [
        (1, "alpha\nPROMO\nbeta\nPROMO\n\nalpha\ngamma"),
        (2, "  same  \nsame\nother"),  # trim-compared; first bytes kept
        (3, None),
        (4, "\n\n"),  # empty lines always survive
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["clean_text"]
        for r in dedup_lines_within_doc(df).collect()
    }
    assert got[1] == "alpha\nPROMO\nbeta\n\ngamma"
    assert got[2] == "  same  \nother"
    assert got[3] == ""
    assert got[4] == "\n\n"
    # idempotent (fixed point) and partitioning-invariant
    once = dedup_lines_within_doc(df).drop("text").withColumnRenamed(
        "clean_text", "text"
    )
    twice = {
        r["doc_id"]: r["clean_text"]
        for r in dedup_lines_within_doc(once).collect()
    }
    assert twice == got
    rep = {
        r["doc_id"]: r["clean_text"]
        for r in dedup_lines_within_doc(df.repartition(5)).collect()
    }
    assert rep == got
    # zero-shuffle plan (pure projection)
    plan = (
        dedup_lines_within_doc(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_cap_per_group(spark):
    from validate_xml_rust_spark.operators.curation import cap_per_group

    rows = (
        [(i, "hot.example.com") for i in range(400)]
        + [(1000 + i, "tiny.example.org") for i in range(5)]
        + [(2000 + i, None) for i in range(60)]
    )
    df = spark.createDataFrame(rows, "doc_id long, host string")
    out = cap_per_group(df, "host", 20, key_col="doc_id")
    got = {}
    for r in out.collect():
        got.setdefault(r["host"], []).append(r["doc_id"])
    # hot group lands NEAR the cap (rate-based, binomial spread)
    assert 8 <= len(got["hot.example.com"]) <= 35
    # under-cap groups survive WHOLE
    assert len(got["tiny.example.org"]) == 5
    # NULL group is its own capped population
    assert 0 < len(got.get(None, [])) <= 45
    # deterministic across partitionings; schema unchanged
    again = cap_per_group(df.repartition(7), "host", 20).collect()
    assert sorted(r["doc_id"] for r in again) == sorted(
        i for v in got.values() for i in v
    )
    assert out.columns == df.columns
