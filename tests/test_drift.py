"""Drift-check operator tests: planted distribution shifts must trip the
KS / chi-square gates; unshifted partitions must not."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from validate_xml_rust_spark.operators.drift import (
    categorical_baseline,
    chi2_drift_check,
    drift_violations,
    ks_drift_check,
    ks_statistic,
    numeric_baseline,
)


def _numeric_df(spark):
    # partitions 0,1: N(0,1)-ish; partition 2: shifted by +5
    rng = np.random.default_rng(42)
    rows = []
    for pid in (0, 1):
        for v in rng.normal(0, 1, 400):
            rows.append((pid, float(v)))
    for v in rng.normal(5, 1, 400):
        rows.append((2, float(v)))
    return spark.createDataFrame(rows, "partition_id int, x double")


def test_ks_detects_planted_shift(spark):
    df = _numeric_df(spark)
    base = numeric_baseline(df.filter("partition_id = 0"), "x")
    out = {r["partition_id"]: r for r in ks_drift_check(df, "x", base).collect()}
    assert out[0]["drifted"] is False  # baseline vs itself
    assert out[1]["drifted"] is False  # same distribution
    assert out[2]["drifted"] is True  # +5 shift
    assert out[2]["statistic"] > 0.9
    assert out[2]["p_value"] < 0.001


def test_ks_statistic_pure():
    a = np.arange(0, 1000, dtype="float64")
    assert ks_statistic(a, np.sort(a)) == 0.0
    b = a + 1000.0
    assert ks_statistic(b, np.sort(a)) == 1.0


def _cat_df(spark):
    rows = []
    for pid in (0, 1):
        rows += [(pid, "en")] * 70 + [(pid, "de")] * 20 + [(pid, "fr")] * 10
    rows += [(2, "en")] * 10 + [(2, "de")] * 20 + [(2, "fr")] * 70  # inverted
    return spark.createDataFrame(rows, "partition_id int, lang string")


def test_chi2_detects_category_shift(spark):
    df = _cat_df(spark)
    base = categorical_baseline(df.filter("partition_id = 0"), "lang")
    out = {r["partition_id"]: r for r in chi2_drift_check(df, "lang", base).collect()}
    assert out[0]["drifted"] is False
    assert out[1]["drifted"] is False
    assert out[2]["drifted"] is True
    assert out[2]["p_value"] < 0.01


def test_drift_violations_contract(spark):
    df = _cat_df(spark)
    base = categorical_baseline(df.filter("partition_id = 0"), "lang")
    v = drift_violations(chi2_drift_check(df, "lang", base)).collect()
    assert len(v) == 1
    assert v[0]["url"] == "partition:2"
    assert v[0]["constraint_id"] == "drift_chi2_lang"


def test_small_partition_not_flagged(spark):
    # below min_rows → never drifts (avoids noise from tiny partitions)
    df = spark.createDataFrame(
        [(0, 1.0), (0, 2.0), (1, 99.0)], "partition_id int, x double"
    )
    base = np.array([1.0, 2.0, 3.0] * 50)
    out = {r["partition_id"]: r for r in ks_drift_check(df, "x", base).collect()}
    assert out[1]["drifted"] is False and out[1]["n"] == 1


def test_psi_detects_category_shift(spark):
    from validate_xml_rust_spark.operators.drift import psi_drift_check

    df = _cat_df(spark)
    base = categorical_baseline(df.filter("partition_id = 0"), "lang")
    out = {r["partition_id"]: r for r in psi_drift_check(df, "lang", base).collect()}
    assert out[0]["drifted"] is False and out[0]["statistic"] < 0.01
    assert out[1]["drifted"] is False  # same distribution as baseline
    assert out[2]["drifted"] is True  # inverted distribution
    assert out[2]["statistic"] > 1.0
    assert out[2]["test"] == "psi" and out[2]["n"] == 100
    # novel category (not in baseline) contributes through the OTHER bucket
    nov = spark.createDataFrame(
        [(3, "zz")] * 100, "partition_id int, lang string"
    )
    out3 = {
        r["partition_id"]: r
        for r in psi_drift_check(df.union(nov), "lang", base).collect()
    }
    assert out3[3]["drifted"] is True and out3[3]["statistic"] > out3[2]["statistic"]


def test_psi_small_partition_guard(spark):
    from validate_xml_rust_spark.operators.drift import psi_drift_check

    df = spark.createDataFrame(
        [(0, "en"), (0, "fr"), (1, "zz")], "partition_id int, lang string"
    )
    out = {
        r["partition_id"]: r
        for r in psi_drift_check(df, "lang", {"en": 50, "fr": 50}).collect()
    }
    assert out[1]["drifted"] is False and out[1]["statistic"] == 0.0


def test_embedding_drift_detects_cluster_shift(spark):
    import numpy as np

    from validate_xml_rust_spark.operators.drift import embedding_drift_check

    rng = np.random.default_rng(7)
    anchors = np.array([[10.0, 0.0, 0.0], [0.0, 10.0, 0.0]])
    rows = []
    for pid in (0, 1):  # 70/30 cluster mix
        rows += [(pid, anchors[0] + rng.normal(0, 0.1, 3)) for _ in range(70)]
        rows += [(pid, anchors[1] + rng.normal(0, 0.1, 3)) for _ in range(30)]
    # partition 2: inverted 10/90 mix — occupancy shift, not scalar drift
    rows += [(2, anchors[0] + rng.normal(0, 0.1, 3)) for _ in range(10)]
    rows += [(2, anchors[1] + rng.normal(0, 0.1, 3)) for _ in range(90)]
    df = spark.createDataFrame(
        [(p, [float(x) for x in v]) for p, v in rows],
        "partition_id int, embedding array<double>",
    )
    out = {
        r["partition_id"]: r
        for r in embedding_drift_check(df, "embedding", anchors).collect()
    }
    assert out[0]["drifted"] is False and out[1]["drifted"] is False
    assert out[2]["drifted"] is True and out[2]["statistic"] > 0.5
    assert out[2]["test"] == "psi" and out[2]["column_name"] == "cluster"


def test_psi_numeric_binning_and_shift(spark):
    from validate_xml_rust_spark.operators.drift import (
        numeric_bin_col,
        psi_numeric_drift_check,
    )

    # bin arithmetic: clamping, edges, nulls
    df = spark.createDataFrame(
        [(x,) for x in (-5.0, 0.0, 39.9, 40.0, 399.0, 400.0, 1e6, None)],
        "x double",
    )
    bins = [r["b"] for r in df.select(numeric_bin_col("x", 0, 400, 10).alias("b")).collect()]
    assert bins == ["0", "0", "0", "1", "9", "9", "9", None]

    # planted location shift: partition 2 sits +200 from the others
    rows = [(pid, float(v % 100)) for pid in (0, 1) for v in range(200)]
    rows += [(2, float(v % 100) + 200.0) for v in range(200)]
    d = spark.createDataFrame(rows, "partition_id int, x double")
    # explicit reference baseline (bin counts from the clean snapshot):
    # self-baselining would blend the drifted partition into the reference
    base = {"0": 80, "1": 80, "2": 40}
    out = {
        r["partition_id"]: r
        for r in psi_numeric_drift_check(
            d, "x", lo=0, hi=400, n_bins=10, baseline_counts=base
        ).collect()
    }
    assert out[0]["drifted"] is False and out[1]["drifted"] is False
    assert out[2]["drifted"] is True and out[2]["statistic"] > 1.0
    assert out[2]["column_name"] == "x" and out[2]["test"] == "psi"


def test_numeric_bin_nan_excluded(spark):
    from validate_xml_rust_spark.operators.drift import numeric_bin_col

    df = spark.createDataFrame(
        [(float("nan"),), (float("-inf"),), (float("inf"),), (None,), (50.0,)],
        "x double",
    )
    bins = [
        r["b"] for r in df.select(numeric_bin_col("x", 0, 400, 10).alias("b")).collect()
    ]
    # NaN == NULL == excluded; infinities clamp to edge bins on BOTH engines
    assert bins == [None, "0", "9", None, "1"]


def test_embedding_drift_null_vectors_excluded(spark):
    import numpy as np

    from validate_xml_rust_spark.operators.drift import embedding_drift_check

    anchors = np.array([[10.0, 0.0], [0.0, 10.0]])
    df = spark.createDataFrame(
        [(0, [10.0, 0.1])] * 30 + [(0, [0.1, 10.0])] * 30 + [(0, None)] * 10,
        "partition_id int, embedding array<double>",
    )
    out = embedding_drift_check(df, "embedding", anchors).collect()
    assert len(out) == 1
    assert out[0]["n"] == 60  # NULL vectors are not a cluster
    assert out[0]["drifted"] is False


def test_js_divergence_properties(spark):
    """JSD is symmetric-by-construction, bounded by ln 2, near 0 on a
    matching distribution, and detects a planted shift PSI also sees."""
    import math

    from validate_xml_rust_spark.operators.drift import psi_drift_check

    rows = [(0, "a") for _ in range(100)] + [(0, "b") for _ in range(100)]
    rows += [(1, "a") for _ in range(190)] + [(1, "b") for _ in range(10)]
    df = spark.createDataFrame(rows, "partition_id int, lang string")
    base = {"a": 100, "b": 100}
    out = {
        r["partition_id"]: r
        for r in psi_drift_check(df, "lang", base, stat="js", threshold=0.1)
        .collect()
    }
    assert out[0]["test"] == "js"
    assert out[0]["statistic"] < 0.001          # same distribution
    assert out[0]["drifted"] is False
    assert 0.0 < out[1]["statistic"] <= math.log(2) + 1e-9
    assert out[1]["statistic"] > 0.1 and out[1]["drifted"] is True


def test_vocab_drift_detects_vocabulary_shift(spark):
    """Token-level drift: a partition whose vocabulary shifted reads a
    higher JS than stable partitions; corpus-vs-corpus baselining works;
    identical corpora measure ~0."""
    from validate_xml_rust_spark.operators.drift import vocab_drift

    base_rows = [
        (i, i % 4, "the quick brown fox jumps over the lazy dog %d" % i)
        for i in range(400)
    ]
    # partition 3 speaks a different vocabulary
    cur_rows = [
        (
            i,
            i % 4,
            (
                "zorb flux quasar nebula parsec warp %d" % i
                if i % 4 == 3
                else "the quick brown fox jumps over the lazy dog %d" % i
            ),
        )
        for i in range(400)
    ]
    schema = "doc_id long, partition_id int, text string"
    base = spark.createDataFrame(base_rows, schema)
    cur = spark.createDataFrame(cur_rows, schema)

    d = {
        r["partition_id"]: r["statistic"]
        for r in vocab_drift(cur, baseline_df=base).collect()
    }
    stable = [d[p] for p in (0, 1, 2)]
    assert d[3] > 5 * max(stable), d
    # self-baseline on a uniform corpus: every partition near zero
    s = {
        r["partition_id"]: r["statistic"]
        for r in vocab_drift(base).collect()
    }
    assert all(v < 0.05 for v in s.values()), s
    # output schema matches the drift-suite contract
    cols = set(vocab_drift(base).columns)
    assert {"partition_id", "column_name", "test", "statistic", "n"} <= cols


def _persisted_ids(spark) -> set:
    return {
        int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    }


def test_vocab_drift_leaves_nothing_persisted(spark):
    """The (partition × bucket) counts are collected and finished on the
    driver: a call without ``handles`` strands no block set, and a
    ``handles`` dict comes back empty."""
    from validate_xml_rust_spark.operators.drift import vocab_drift

    df = spark.createDataFrame(
        [(i, i % 3, f"alpha beta gamma {i % 11}") for i in range(90)],
        "doc_id long, partition_id int, text string",
    )
    before = _persisted_ids(spark)
    vocab_drift(df, n_buckets=16).collect()
    handles: dict = {}
    vocab_drift(df, n_buckets=16, handles=handles).collect()
    assert _persisted_ids(spark) == before
    assert handles == {}


def test_embedding_drift_keeps_a_null_partition(spark):
    """A NULL partition id is its own group next to the others, as in the
    all-Spark PSI plan, not a sort error on the driver."""
    from validate_xml_rust_spark.operators.drift import embedding_drift_check

    anchors = np.array([[10.0, 0.0], [0.0, 10.0]])
    rows = [(0, [10.0, 0.1])] * 30 + [(0, [0.1, 10.0])] * 30
    rows += [(None, [10.0, 0.1])] * 25
    df = spark.createDataFrame(rows, "partition_id int, embedding array<double>")
    out = {r["partition_id"]: r for r in embedding_drift_check(df, "embedding", anchors).collect()}
    assert set(out) == {0, None}
    assert out[None]["n"] == 25 and out[0]["n"] == 60


def test_psi_numeric_self_baseline_matches_two_pass(spark):
    """The one-pass self-baseline gives the rows of baselining the bins
    first and running the all-Spark PSI plan over them."""
    from validate_xml_rust_spark.operators.drift import (
        numeric_bin_col,
        psi_drift_check,
        psi_numeric_drift_check,
    )

    rows = [(pid, float(v % 100)) for pid in (0, 1) for v in range(200)]
    rows += [(2, float(v % 100) + 200.0) for v in range(200)] + [(2, None)]
    d = spark.createDataFrame(rows, "partition_id int, x double")
    binned = d.withColumn("__bin", numeric_bin_col("x", 0, 400, 10))
    want = psi_drift_check(
        binned, "__bin", categorical_baseline(binned, "__bin")
    ).withColumn("column_name", F.lit("x"))
    got = psi_numeric_drift_check(d, "x", lo=0, hi=400, n_bins=10)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
