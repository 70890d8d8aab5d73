"""validate_full: spec-declared table-scope constraints (unique /
referential / drift) orchestrated with the row verdicts."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from validate_xml_rust_spark.operators.drift import categorical_baseline
from validate_xml_rust_spark.operators.orchestrate import (
    TableContext,
    validate_full,
)
from validate_xml_rust_spark.specs import Constraint, Spec, SpecRegistry

SCHEMA = "url string, host string, lang string, partition_id int"


def _df(spark):
    rows = [
        ("https://a.com/1", "a.com", "en", 0),
        ("https://a.com/1", "a.com", "en", 0),  # dup url
        ("https://a.com/2", "a.com", "en", 0),
        ("https://evil.io/3", "evil.io", "en", 1),  # host not in registry
        ("https://b.com/4", "b.com", "de", 1),  # routed to other spec
        (None, "a.com", "en", 1),  # null url (row-scope violation)
    ]
    return spark.createDataFrame(rows, SCHEMA)


def _registry():
    spec = Spec(
        "web-v1",
        (
            Constraint("url_not_null", "url", "not_null"),
            Constraint("url_unique", "url", "unique"),
            Constraint(
                "host_in_registry", "host", "referential",
                {"ref_table": "host_registry", "parent_key": "host"},
            ),
        ),
    )
    other = Spec("other-v1", (Constraint("u2", "url", "not_null"),))
    return SpecRegistry().add(spec, route_keys=["en"]).add(other, route_keys=["de"])


def test_validate_full_table_constraints(spark):
    hosts = spark.createDataFrame([("a.com",), ("b.com",)], "host string")
    ctx = TableContext(ref_tables={"host_registry": hosts})
    res = validate_full(_df(spark), spark, _registry(), ctx)

    v = res.all_violations().collect()
    by_cid = {}
    for r in v:
        by_cid.setdefault(r["constraint_id"], []).append(r)

    # row-scope: null url
    assert len(by_cid["url_not_null"]) == 1
    # table-scope unique: both dup rows reported
    assert len(by_cid["url_unique"]) == 2
    assert all(r["url"] == "https://a.com/1" for r in by_cid["url_unique"])
    # table-scope referential: evil.io flagged; b.com NOT (different spec)
    assert [r["url"] for r in by_cid["host_in_registry"]] == ["https://evil.io/3"]


def test_validate_full_scopes_checks_to_routed_rows(spark):
    # the de-routed spec has no table constraints → b.com/evil hosts under
    # 'de' are never checked against web-v1's registry
    df = _df(spark).withColumn("lang", F.lit("de"))
    hosts = spark.createDataFrame([("a.com",)], "host string")
    ctx = TableContext(ref_tables={"host_registry": hosts})
    res = validate_full(df, spark, _registry(), ctx)
    assert res.table_violations is None or res.table_violations.count() == 0


def test_validate_full_drift(spark):
    rows = []
    for pid in (0, 1):
        rows += [(f"https://h/{pid}-{i}", "h", "en", pid) for i in range(80)]
    df = spark.createDataFrame(rows, SCHEMA)
    # lang column uniform; plant a shifted partition via a new column
    df = df.withColumn(
        "cat",
        F.when((F.col("partition_id") == 1), F.lit("B")).otherwise(F.lit("A")),
    )
    spec = Spec(
        "web-v1",
        (Constraint("cat_drift", "cat", "drift", {"test": "chi2"}),),
    )
    reg = SpecRegistry().add(spec, route_keys=["en"])
    base = categorical_baseline(df.filter("partition_id = 0"), "cat")
    ctx = TableContext(baselines={"cat": base})
    res = validate_full(df, spark, reg, ctx)
    v = res.table_violations.collect()
    assert len(v) == 1 and v[0]["url"] == "partition:1"
    assert v[0]["constraint_id"] == "cat_drift"  # the SPEC's id, not the derived one


def test_validate_full_vocab_drift_holds_no_blocks(spark):
    """A vocab drift constraint finishes its count table on the driver:
    the result carries no checkpoint blocks, and nothing stays persisted
    once its violations are read, before or after release()."""
    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())

    rows = [
        (f"https://h/{i}", "h", "en", i % 3,
         "zorb flux quasar nebula" if i % 3 == 2 else "the quick brown fox")
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, SCHEMA + ", text string")
    spec = Spec("web-v1", (Constraint("vd", "text", "drift", {"test": "vocab"}),))
    before = persisted()
    res = validate_full(df, spark, SpecRegistry().add(spec, route_keys=["en"]))
    v = res.table_violations.collect()
    assert [r["url"] for r in v] == ["partition:2"]
    assert res.ckpt_block_ids == frozenset()
    assert persisted() == before
    res.release()
    assert persisted() == before


def test_validate_full_content_mode_scoping(spark):
    rows = [
        ("https://a/1", b'<meta name="spec" content="web-v1"/>', "en", 0),
        ("https://a/1", b'<meta name="spec" content="web-v1"/>', "en", 0),  # dup
        ("https://a/2", b'<meta name="spec" content="zzz-v1"/>', "en", 0),
    ]
    df = spark.createDataFrame(rows, "url string, html binary, lang string, partition_id int")
    spec = Spec("web-v1", (Constraint("url_unique", "url", "unique"),))
    reg = SpecRegistry().add(spec, route_keys=["en"])
    res = validate_full(df, spark, reg, route_mode="content")
    dups = res.table_violations.collect()
    assert len(dups) == 2 and all(r["url"] == "https://a/1" for r in dups)


def test_validate_full_contamination_and_near_dup(spark):
    """Spec-declared curation policy: contamination + near-dup as
    table-scope constraints, violations in the engine contract."""
    base_text = ("the quick brown fox jumps over the lazy dog while the cat "
                 "watches from the warm windowsill in the garden")
    rows = [
        ("u0", base_text, "en", 0),
        ("u1", base_text, "en", 0),                                # near/exact dup of u0
        ("u2", "totally different words about spark shuffles and "
               "partitions with no overlap at all anywhere", "en", 0),
        ("u3", "prefix junk then secret holdout benchmark passage about "
               "purple elephants juggling nine flaming torches plus a "
               "suffix", "en", 0),                                 # contaminated
    ]
    df = spark.createDataFrame(rows, "url string, text string, lang string, partition_id int")
    bench = spark.createDataFrame(
        [("b0", "secret holdout benchmark passage about purple elephants "
                "juggling nine flaming torches")],
        "bid string, text string",
    )
    spec = Spec(
        "web-v1",
        (
            Constraint("no_bench_overlap", "text", "contamination",
                       {"benchmark": "holdout", "n": 8}),
            Constraint("no_near_dups", "text", "near_dup", {"threshold": 0.8}),
        ),
    )
    reg = SpecRegistry().add(spec, route_keys=["en"])
    ctx = TableContext(ref_tables={"holdout": bench})
    res = validate_full(df, spark, reg, ctx)
    v = {(r["constraint_id"], r["url"]): r for r in res.table_violations.collect()}
    assert ("no_bench_overlap", "u3") in v
    assert int(v[("no_bench_overlap", "u3")]["observed_value"]) >= 1
    assert ("no_near_dups", "u1") in v          # u1 loses to u0 (min id)
    assert v[("no_near_dups", "u1")]["observed_value"] == "u0"
    assert all(u not in ("u0", "u2") for c, u in v)  # survivors untouched
    # the near_dup violations were checkpointed eagerly — the result hands
    # the caller the block ids, and release() frees them (the violations
    # frame must not be read afterwards)
    assert res.ckpt_block_ids
    pers = spark.sparkContext._jsc.getPersistentRDDs()
    assert any(rid in res.ckpt_block_ids for rid in pers.keySet().toArray() or [])
    res.release()
    pers_after = spark.sparkContext._jsc.getPersistentRDDs()
    assert not any(
        rid in res.ckpt_block_ids for rid in pers_after.keySet().toArray() or []
    )


def test_repetition_row_constraint(spark):
    """Declarative Gopher repetition bound as a row-scope spec kind."""
    from validate_xml_rust_spark.operators.validate import validate

    rows = [
        ("u0", "buy now " * 20, "en"),
        ("u1", "every word here is used exactly once in this document", "en"),
    ]
    df = spark.createDataFrame(rows, "url string, text string, lang string")
    spec = Spec(
        "web-v1",
        (Constraint("low_repetition", "text", "repetition",
                    {"k": 2, "max_ratio": 0.2}),),
    )
    reg = SpecRegistry().add(spec, route_keys=["en"])
    res = validate(df, spark, reg, route_col="lang")
    st = {r["url"]: r["status"] for r in res.verdicts.collect()}
    assert st == {"u0": "invalid", "u1": "valid"}
    viol = res.violations().collect()
    assert len(viol) == 1 and viol[0]["constraint_id"] == "low_repetition"
    assert float(viol[0]["observed_value"]) > 0.2


def test_validate_full_fd_and_psi_kinds(spark):
    """Round-3 spec kinds: a declarative fd constraint reports determinant
    keys with multiple dependent bindings; drift test='psi' runs the
    closed-form check through the same baselines context."""
    rows = []
    for i in range(30):
        rows.append((f"https://a.com/{i}", "a.com", "en", 0))
    for i in range(30):
        rows.append((f"https://b.com/{i}", "b.com", "en", 1))
    # a.com maps to TWO countries -> fd violation; b.com to one
    df = spark.createDataFrame(
        [
            (u, h, lang, p, ("US" if (p == 0 and int(u.rsplit("/", 1)[1]) % 2) else "DE"))
            for (u, h, lang, p) in rows
        ],
        "url string, host string, lang string, partition_id int, country string",
    )
    spec = Spec(
        "web-v1",
        (
            Constraint(
                "host_country_fd", "host", "fd", {"dependent": "country"}
            ),
            Constraint(
                "country_psi", "country", "drift",
                {"test": "psi", "threshold": 0.2},
            ),
        ),
    )
    reg = SpecRegistry().add(spec, route_keys=["en"])
    # explicit reference baseline = partition 0's 50/50 mix, so partition 0
    # must NOT flag and the all-DE partition 1 MUST (self-baselining would
    # blend the drifted partition into the reference)
    ctx = TableContext(baselines={"country": {"US": 15, "DE": 15}})
    res = validate_full(df, spark, reg, ctx)
    v = res.all_violations().collect()
    fd = [r for r in v if r["constraint_id"] == "host_country_fd"]
    assert len(fd) == 1
    assert fd[0]["url"] == "host=a.com"
    assert fd[0]["observed_value"] == "DE,US"
    assert "2 values across 30 rows" in fd[0]["message"]
    # psi violations carry the SPEC's id; exactly the shifted partition fires
    psi = [r for r in v if r["constraint_id"] == "country_psi"]
    assert [r["url"] for r in psi] == ["partition:1"]
    res.release()


def test_validate_full_host_quality_kind(spark):
    """host_quality table kind: per-group mean quality below the spec
    threshold flags the GROUP (one violation row per bad host), min_docs
    suppresses tiny groups, and scoping applies (only routed rows count)."""
    good = "The report and the analysis of the data were clear and useful."
    bad = "zzzz!!!! ???? ;;;; xxxx!!!! ???? ;;;; qqqq!!!! ????"
    rows = (
        [(f"u{i}", "good.com", "en", good, 0) for i in range(6)]
        + [(f"b{i}", "spam.io", "en", bad, 0) for i in range(6)]
        + [(f"t{i}", "tiny.net", "en", bad, 0) for i in range(2)]  # < min_docs
        + [(f"z{i}", "spam.io", "zz", bad, 0) for i in range(9)]  # unrouted
    )
    df = spark.createDataFrame(
        rows, "url string, host string, lang string, text string, partition_id int"
    )
    spec = Spec(
        "hq-v1",
        (
            Constraint(
                "hq", "host", "host_quality",
                {"min_mean_quality": 0.4, "min_docs": 5},
            ),
        ),
    )
    reg = SpecRegistry().add(spec, route_keys=["en"])
    res = validate_full(df, spark, reg)
    v = res.all_violations().collect()
    assert [r["url"] for r in v] == ["spam.io"]
    assert "host mean quality" in v[0]["message"]
    res.release()


def test_group_quality_stats_decimal_exact_and_null_group(spark):
    from validate_xml_rust_spark.operators.hostquality import group_quality_stats

    df = spark.createDataFrame(
        [("a", "the cat and the dog of the house."),
         ("a", "the sun and the moon of the sky."),
         (None, "never counted — null group")],
        "src string, text string",
    )
    out = group_quality_stats(df, group_col="src").collect()
    assert len(out) == 1 and out[0]["src"] == "a" and out[0]["n_docs"] == 2
    # mean equals the DECIMAL-exact average of the per-doc 6dp scores
    from validate_xml_rust_spark.operators.textstats import quality_score
    from decimal import Decimal

    qs = [
        Decimal(str(round(r["quality"], 6)))
        for r in quality_score(df.filter(F.col("src").isNotNull())).collect()
    ]
    expect = round(float(sum(qs)) / len(qs), 6)
    assert out[0]["mean_quality"] == expect


def test_contamination_sweep_short_question(spark):
    """A 6-token benchmark question inside a long document is INVISIBLE to
    the fixed-13-gram check and CAUGHT by the length sweep."""
    from validate_xml_rust_spark.operators.curation import (
        contamination_flags,
        contamination_sweep,
    )

    q6 = "what is the capital of france"
    long_doc = (
        "many words precede the planted question here now listen "
        + q6
        + " and many words follow it afterwards in this long document body"
    )
    clean = "a completely unrelated document about gardening and soil quality " \
            "with enough words to form thirteen gram windows easily in text"
    docs = spark.createDataFrame(
        [(1, long_doc), (2, clean)], "doc_id long, text string"
    )
    bench = spark.createDataFrame([(q6,)], "text string")
    fixed = {r["doc_id"]: r["contaminated"]
             for r in contamination_flags(docs, bench, n=13).collect()}
    swept = {r["doc_id"]: r["contaminated"]
             for r in contamination_sweep(docs, bench, primary_n=13, min_n=5).collect()}
    assert fixed == {1: False, 2: False}  # the hole
    assert swept == {1: True, 2: False}  # the sweep closes it


def test_contamination_sweep_long_entries_match_13grams(spark):
    from validate_xml_rust_spark.operators.curation import contamination_sweep

    entry = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
             "lambda mu nu xi omicron")  # 15 tokens
    doc_hit = "prefix words here " + entry + " suffix words there"
    doc_miss = ("alpha beta gamma delta epsilon zeta eta theta iota unrelated "
                "tail words continue onward beyond the window boundary now")
    docs = spark.createDataFrame(
        [(1, doc_hit), (2, doc_miss)], "doc_id long, text string"
    )
    bench = spark.createDataFrame([(entry,)], "text string")
    out = {r["doc_id"]: r["contaminated"]
           for r in contamination_sweep(docs, bench).collect()}
    assert out == {1: True, 2: False}


def test_contamination_sweep_min_n_floor(spark):
    """Benchmark entries below min_n tokens are excluded — a 2-token entry
    must not flag every doc containing a common bigram."""
    from validate_xml_rust_spark.operators.curation import contamination_sweep

    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat beside the old garden wall today")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([("the cat",)], "text string")
    out = contamination_sweep(docs, bench, min_n=5).collect()
    assert out[0]["contaminated"] is False


def test_spec_json_roundtrip_new_table_kinds(spark, tmp_path):
    """A JSON spec declaring the round-4 table kinds (host_quality,
    contamination sweep params) loads through the spec loader and executes
    through validate_full — the whole curation policy stays declarative."""
    import json

    from validate_xml_rust_spark.sources.spec_loader import load_spec

    spec_doc = {
        "spec_id": "policy-v2",
        "constraints": [
            {"constraint_id": "t_nn", "column": "text", "kind": "not_null"},
            {"constraint_id": "hq", "column": "host", "kind": "host_quality",
             "params": {"min_mean_quality": 0.4, "min_docs": 3}},
            {"constraint_id": "decon", "column": "text", "kind": "contamination",
             "params": {"benchmark": "bench", "primary_n": 13, "min_n": 5}},
        ],
    }
    p = tmp_path / "policy.json"
    p.write_text(json.dumps(spec_doc))
    spec = load_spec(str(p))
    assert {c.kind for c in spec.table_constraints()} == {
        "host_quality", "contamination"
    }
    good = "the report and the analysis of the data were clear and useful today"
    bad = "zzzz!!!! ???? ;;;; xxxx!!!! ???? ;;;; qqqq!!!! ????"
    q6 = "what is the capital of france"
    rows = (
        [(f"u{i}", "ok.com", "en", good) for i in range(4)]
        + [(f"b{i}", "junk.io", "en", bad) for i in range(4)]
        + [("leak", "ok.com", "en", "padding words then " + q6 + " more text")]
    )
    df = spark.createDataFrame(
        rows, "url string, host string, lang string, text string"
    ).withColumn("partition_id", F.lit(0))
    reg = SpecRegistry().add(spec, route_keys=["en"])
    bench = spark.createDataFrame([(q6,)], "text string")
    res = validate_full(
        df, spark, reg, TableContext(ref_tables={"bench": bench}),
        route_col="lang",
    )
    v = {(r["constraint_id"], r["url"]) for r in res.all_violations().collect()}
    assert ("hq", "junk.io") in v           # host-level keep/drop fired
    assert ("decon", "leak") in v           # short-question sweep fired
    assert not any(c == "hq" and u == "ok.com" for c, u in v)
    res.release()


def test_contamination_sweep_empty_benchmark(spark):
    """Zero benchmark entries → nothing flagged, every doc still emits a
    row (the left join contract survives the empty small side)."""
    from validate_xml_rust_spark.operators.curation import contamination_sweep

    docs = spark.createDataFrame(
        [(1, "some words here"), (2, None)], "doc_id long, text string"
    )
    bench = spark.createDataFrame([], "text string")
    out = {r["doc_id"]: (r["contaminated"], r["n_contaminated_ngrams"])
           for r in contamination_sweep(docs, bench).collect()}
    assert out == {1: (False, 0), 2: (False, 0)}


def test_rollup_quality_stats_matches_direct_aggregation(spark):
    """The domain grain derived from (domain, host) DECIMAL partials must
    equal a DIRECT aggregation at each grain (exact sums compose), and be
    partitioning-invariant."""
    from pyspark.sql import functions as F

    from validate_xml_rust_spark.operators.hostquality import (
        group_quality_stats,
        rollup_quality_stats,
    )

    rows = [
        (i, f"h{i % 6}", f"d{(i % 6) % 2}",
         f"the quick text number {i} with some words and punctuation.")
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "id long, host string, dom string, text string")
    rolled = {
        (r["grain"], r["group_value"]): (r["n_docs"], r["mean_quality"])
        for r in rollup_quality_stats(df, host_col="host", domain_col="dom").collect()
    }
    direct_host = {
        ("host", r["host"]): (r["n_docs"], r["mean_quality"])
        for r in group_quality_stats(df, group_col="host").collect()
    }
    direct_dom = {
        ("domain", r["dom"]): (r["n_docs"], r["mean_quality"])
        for r in group_quality_stats(df, group_col="dom").collect()
    }
    assert rolled == {**direct_host, **direct_dom}
    rolled2 = {
        (r["grain"], r["group_value"]): (r["n_docs"], r["mean_quality"])
        for r in rollup_quality_stats(
            df.repartition(13), host_col="host", domain_col="dom"
        ).collect()
    }
    assert rolled2 == rolled


def test_host_quality_violations_domain_rollup(spark):
    """Both grains emitted from one shuffle: a bad host inside a healthy
    domain flags at host grain only; a domain whose pooled mean falls
    below the domain threshold flags at domain grain too."""
    from validate_xml_rust_spark.operators.hostquality import (
        host_quality_violations,
    )

    good = "the sensible readable text, with words and meaning."
    bad = "zzzz!!!! ???? #### @@@@ %%%%"
    rows = (
        [(i, "good-host", "good-dom", good) for i in range(10)]
        + [(100 + i, "ok-host", "bad-dom", good) for i in range(5)]
        + [(200 + i, "bad-host", "bad-dom", bad) for i in range(10)]
    )
    df = spark.createDataFrame(rows, "id long, host string, dom string, text string")
    out = host_quality_violations(
        df, group_col="host", constraint_id="hq",
        min_mean_quality=0.3, min_docs=5,
        domain_col="dom", domain_min_mean_quality=0.4, domain_min_docs=5,
    ).collect()
    got = {(r["constraint_id"], r["url"]) for r in out}
    assert ("hq", "bad-host") in got
    assert ("hq@dom", "bad-dom") in got
    assert all(u != "good-dom" for (_, u) in got)
    assert all(u != "good-host" for (_, u) in got)
    # without domain_col the behavior is unchanged (host grain only)
    flat = host_quality_violations(
        df, group_col="host", constraint_id="hq",
        min_mean_quality=0.3, min_docs=5,
    ).collect()
    assert {(r["constraint_id"], r["url"]) for r in flat} == {("hq", "bad-host")}


def test_rollup_null_domain_does_not_perturb_host_grain(spark):
    """A NULL domain (failed extraction) is a domain problem, not a host
    problem: enabling the rollup must leave host-grain stats identical to
    the flat path, and NULL domains must not appear at the domain grain."""
    from pyspark.sql import functions as F

    from validate_xml_rust_spark.operators.hostquality import (
        group_quality_stats,
        rollup_quality_stats,
    )

    rows = [
        (i, f"h{i % 4}", (f"d{i % 2}" if i % 3 else None),
         f"plain readable text with number {i} and words.")
        for i in range(80)
    ]
    df = spark.createDataFrame(rows, "id long, host string, dom string, text string")
    rolled = rollup_quality_stats(df, host_col="host", domain_col="dom").collect()
    host_rolled = {
        r["group_value"]: (r["n_docs"], r["mean_quality"])
        for r in rolled if r["grain"] == "host"
    }
    host_flat = {
        r["host"]: (r["n_docs"], r["mean_quality"])
        for r in group_quality_stats(df, group_col="host").collect()
    }
    assert host_rolled == host_flat
    dom_values = {r["group_value"] for r in rolled if r["grain"] == "domain"}
    assert dom_values == {"d0", "d1"}  # no NULL, no sentinel leakage


def test_contamination_sweep_tokenizer_validation(spark):
    import pytest as _pytest

    from validate_xml_rust_spark.operators.curation import contamination_sweep

    bench = spark.createDataFrame([("w1 w2 w3 w4 w5 w6",)], "text string")
    docs = spark.createDataFrame([(0, "w9 w8 w7")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="unknown tokenizer"):
        contamination_sweep(docs, bench, tokenizer="typo").collect()
    # bpe with no encoder passed falls back to the committed fixture
    out = contamination_sweep(docs, bench, tokenizer="bpe").collect()
    assert len(out) == 1 and out[0]["contaminated"] is False


def test_shared_passage_constraint_kind(spark):
    """Declarative substring-duplication detector: a spec flags docs
    carrying cross-document shared passages; keepers and clean docs pass;
    the eager violation checkpoint is released via res.release()."""
    from validate_xml_rust_spark.operators.dedup import shared_passage_stats

    run = " ".join(f"s{i}" for i in range(12))
    rows = [
        ("u0", f"a0 a1 a2 {run} a3", "en", 0),
        ("u1", f"b0 {run} b1 b2 b3", "en", 0),   # non-keeper → flagged
        ("u2", "c0 c1 c2 c3 c4 c5 c6 c7 c8 c9", "en", 0),
    ]
    df = spark.createDataFrame(
        rows, "url string, text string, lang string, partition_id int"
    )
    # the detector view agrees with the planted schedule
    stats = {r["url"]: r for r in shared_passage_stats(df, id_col="url").collect()}
    assert set(stats) == {"u1"} and stats["u1"]["n_shared_tokens"] == 12
    assert stats["u1"]["n_spans"] == 1

    spec = Spec(
        "web-v1",
        (Constraint("no_shared_passages", "text", "shared_passage",
                    {"min_run": 8, "max_spans": 0}),),
    )
    reg = SpecRegistry().add(spec, route_keys=["en"])
    res = validate_full(df, spark, reg)
    v = res.table_violations.collect()
    assert len(v) == 1 and v[0]["url"] == "u1"
    assert v[0]["constraint_id"] == "no_shared_passages"
    assert v[0]["observed_value"] == "12"
    res.release()


def test_shared_passage_spec_json_roundtrip(spark, tmp_path):
    import json

    from validate_xml_rust_spark.sources.spec_loader import load_spec

    p = tmp_path / "sp.json"
    p.write_text(json.dumps({
        "spec_id": "sp-v1",
        "constraints": [
            {"constraint_id": "no_dup_passages", "column": "text",
             "kind": "shared_passage", "params": {"min_run": 9, "max_spans": 1}},
        ],
    }))
    spec = load_spec(str(p))
    c = spec.constraints[0]
    assert c.kind == "shared_passage" and c.params["min_run"] == 9


def test_lm_quality_constraint_kind(spark):
    """lm_quality table constraint: scoped docs whose bigram-LM
    log-perplexity against the ctx reference table exceeds the budget
    surface as violations; in-domain and unscorable docs do not."""
    from pyspark.sql import functions as F

    from validate_xml_rust_spark.operators.orchestrate import (
        TableContext,
        validate_full,
    )
    from validate_xml_rust_spark.specs import Constraint, Spec, SpecRegistry

    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox naps under the warm dog"),
            (2, "quantum flux capacitors destabilize wormhole manifolds"),
            (3, "ok"),
        ],
        "doc_id long, text string",
    ).withColumn("doc_key", F.col("doc_id").cast("string")).withColumn(
        "lang", F.lit("en")
    ).withColumn("partition_id", F.lit(0))
    spec = Spec(
        "lm-spec",
        (
            Constraint("lm_budget", "text", "lm_quality",
                       {"ref_table": "ref", "max_log_ppl": 1.5}),
        ),
    )
    registry = SpecRegistry().add(spec, route_keys=["en"])
    ctx = TableContext(
        ref_tables={"ref": docs.filter(F.col("doc_id") < 2).select("text")}
    )
    res = validate_full(docs, spark, registry, context=ctx, id_col="doc_key")
    v = res.all_violations().filter(F.col("constraint_id") == "lm_budget")
    rows = v.collect()
    assert {r["url"] for r in rows} == {"2"}
    assert "log-perplexity" in rows[0]["message"]
    res.release()
