"""Golden statistic rows for the drift checks: the per-category constants
(baseline map, category grid, the fold into ``__OTHER__``) must give the
same rows however they are spelled in the plan. The fixture drifts at
least one partition, holds one category outside each baseline, and one
category with a quote, a backslash and non-ASCII text."""

from __future__ import annotations

import numpy as np
import pytest

from validate_xml_rust_spark.operators.drift import (
    embedding_drift_check,
    psi_drift_check,
    vocab_drift,
)

ODD = "O'Brien \\ café–東京"  # quote, backslash, non-ASCII
BASELINE = {"en": 50, "fr": 30, ODD: 20}


def _cat_rows() -> list[tuple]:
    rows = []
    for pid, mix in (
        (0, {"en": 50, "fr": 30, ODD: 20}),  # the baseline mix
        (1, {"en": 48, "fr": 31, ODD: 21}),
        (2, {"en": 10, "fr": 20, ODD: 60, "zz": 30}),  # shifted + unseen
        (3, {"en": 5, "zz": 5}),  # below min_rows
    ):
        rows += [(pid, c) for c, n in mix.items() for _ in range(n)]
    return rows


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def cats(spark):
    return spark.createDataFrame(_cat_rows(), "partition_id int, lang string")


@pytest.fixture(scope="module")
def texts(spark):
    stable = "the quick brown fox jumps over the lazy dog"
    rows = [
        (i, i % 4, f"zorb flux quasar nebula parsec {i % 7}" if i % 4 == 3
         else f"{stable} {i % 5}")
        for i in range(200)
    ]
    return spark.createDataFrame(rows, "doc_id long, partition_id int, text string")


def test_psi_golden(cats):
    assert _rows(psi_drift_check(cats, "lang", BASELINE)) == PSI


def test_js_golden(cats):
    got = psi_drift_check(cats, "lang", BASELINE, threshold=0.1, stat="js")
    assert _rows(got) == JS


def test_vocab_self_baseline_golden(texts):
    assert _rows(vocab_drift(texts, n_buckets=16)) == VOCAB_SELF


def test_vocab_explicit_baseline_golden(spark, texts):
    # the baseline corpus misses most buckets: they fold into __OTHER__
    base = spark.createDataFrame(
        [(i, 0, "the quick brown fox") for i in range(40)],
        "doc_id long, partition_id int, text string",
    )
    got = vocab_drift(texts, baseline_df=base, n_buckets=16)
    assert _rows(got) == VOCAB_EXPLICIT


def test_embedding_golden(spark):
    rng = np.random.default_rng(7)
    anchors = np.array([[10.0, 0.0, 0.0], [0.0, 10.0, 0.0], [0.0, 0.0, 10.0]])
    rows = []
    for pid, mix in ((0, (70, 30, 0)), (1, (68, 30, 2)), (2, (10, 60, 30))):
        for a, n in enumerate(mix):
            rows += [(pid, [float(x) for x in anchors[a] + rng.normal(0, 0.1, 3)])
                     for _ in range(n)]
    df = spark.createDataFrame(rows, "partition_id int, embedding array<double>")
    # cluster 2 lies outside the baseline: it folds into __OTHER__
    got = embedding_drift_check(
        df, "embedding", anchors, baseline_counts={"0": 70, "1": 30}
    )
    assert _rows(got) == EMBEDDING


# (partition_id, column_name, test, statistic, threshold, p_value, n, drifted)
PSI = [
    (0, "lang", "psi", 0.0, 0.2, None, 100, False),
    (1, "lang", "psi", 0.001576, 0.2, None, 100, False),
    (2, "lang", "psi", 2.021203, 0.2, None, 120, True),
    (3, "lang", "psi", 0.0, 0.2, None, 10, False),
]
JS = [
    (0, "lang", "js", 0.0, 0.1, None, 100, False),
    (1, "lang", "js", 0.000197, 0.1, None, 100, False),
    (2, "lang", "js", 0.197297, 0.1, None, 120, True),
    (3, "lang", "js", 0.0, 0.1, None, 10, False),
]
VOCAB_SELF = [
    (0, "vocab", "js", 0.011699, 0.1, None, 500, False),
    (1, "vocab", "js", 0.011699, 0.1, None, 500, False),
    (2, "vocab", "js", 0.011699, 0.1, None, 500, False),
    (3, "vocab", "js", 0.172274, 0.1, None, 300, True),
]
VOCAB_EXPLICIT = [
    (0, "vocab", "js", 0.192526, 0.1, None, 500, True),
    (1, "vocab", "js", 0.192526, 0.1, None, 500, True),
    (2, "vocab", "js", 0.192526, 0.1, None, 500, True),
    (3, "vocab", "js", 0.180139, 0.1, None, 300, True),
]
EMBEDDING = [
    (0, "cluster", "psi", 0.0, 0.2, None, 100, False),
    (1, "cluster", "psi", 0.03228, 0.2, None, 100, False),
    (2, "cluster", "psi", 2.543133, 0.2, None, 100, True),
]
