"""Trainable quality classifier (operators/quality_model.py): training
determinism, holdout generalization, Arrow-vs-expression scoring parity,
and serialization roundtrip."""

from __future__ import annotations

from pyspark.sql import functions as F

from validate_xml_rust_spark.operators.quality_model import (
    QualityModel,
    score_quality,
    score_quality_expr,
    train_quality_model,
)
from validate_xml_rust_spark.sources.corpus import quality_corpus


def _acc(scored, n):
    return (
        scored.withColumn("pred", (F.col("quality_logit") > 0).cast("int"))
        .filter(F.col("pred") == F.col("label"))
        .count()
        / n
    )


def test_train_separates_and_generalizes(spark):
    corp = quality_corpus(spark, 600, 8)
    model = train_quality_model(corp)
    # spam tokens learn negative weight, function words positive
    assert model.weights["casino"] < 0 < model.weights["the"]
    assert _acc(score_quality(corp, model), 600) >= 0.99
    # holdout: unseen ids (the generators draw per-id pseudo-random words)
    hold = quality_corpus(spark, 1200, 8).filter(F.col("doc_id") >= 600)
    assert _acc(score_quality(hold, model), 600) >= 0.95


def test_train_deterministic(spark):
    corp = quality_corpus(spark, 400, 8)
    m1 = train_quality_model(corp, vocab_size=128, sample_cap=400, iters=50)
    m2 = train_quality_model(corp, vocab_size=128, sample_cap=400, iters=50)
    assert m1 == m2  # exact — zero init, fixed order, fixed iterations


def test_arrow_and_expression_paths_agree(spark):
    corp = quality_corpus(spark, 300, 4)
    model = train_quality_model(corp, vocab_size=128, sample_cap=300, iters=50)
    wdf = model.to_df(spark)
    arrow = score_quality(corp, model).select("doc_id", "quality_logit")
    expr = score_quality_expr(corp, wdf)
    joined = arrow.join(expr, "doc_id")
    # expression path rounds to 6dp; Arrow path is raw float64
    bad = joined.filter(
        F.abs(F.col("quality_logit") - F.col("logit")) > 1e-5
    ).count()
    assert bad == 0
    # keep flag consistent with the logit sign
    assert joined.filter(
        (F.col("logit") > 0) != F.col("keep")
    ).count() == 0


def test_null_and_empty_text_score_bias_only(spark):
    model = QualityModel(weights={"spam": -2.0}, bias=0.25)
    df = spark.createDataFrame(
        [(0, None), (1, ""), (2, "spam spam")], "doc_id long, text string"
    )
    rows = {
        r["doc_id"]: r["quality_logit"]
        for r in score_quality(df, model).collect()
    }
    assert rows[0] == rows[1] == 0.25  # no tokens → bias alone
    assert abs(rows[2] - (0.25 - 4.0)) < 1e-12  # occurrences COUNT, not set
    # expression path: same rule (docs with no matched tokens keep bias)
    e = {
        r["doc_id"]: (r["logit"], r["keep"])
        for r in score_quality_expr(df, model.to_df(df.sparkSession)).collect()
    }
    assert e[0] == (0.25, True) and e[1] == (0.25, True)
    assert e[2] == (-3.75, False)


def test_model_roundtrip(spark):
    corp = quality_corpus(spark, 200, 4)
    model = train_quality_model(corp, vocab_size=64, sample_cap=200, iters=30)
    back = QualityModel.from_df(model.to_df(spark))
    assert back.bias == model.bias
    assert back.weights == model.weights  # 9dp rounding applied at train


def test_calibration_report_bins_exact_and_null_safe(spark):
    """calibration_report bins an over-confident model's logits (scaled
    6x) exactly and NULL-safely."""
    from validate_xml_rust_spark.operators.quality_model import (
        calibration_report,
        score_quality,
        train_quality_model,
    )
    from validate_xml_rust_spark.sources.corpus import quality_corpus

    corp = quality_corpus(spark, 1200, n_partitions=8)
    # filter, not limit(): limit takes an UNSPECIFIED 600 rows, so the
    # "holdout" below could overlap the training set
    model = train_quality_model(corp.filter(F.col("doc_id") < 600))
    holdout = corp.filter(F.col("doc_id") >= 600)
    scored = score_quality(holdout, model).withColumn(
        "hot_logit", F.col("quality_logit") * 6.0
    ).localCheckpoint()
    # report: bins cover the logit range, populations sum to the frame,
    # NULL scores/labels excluded not zero-binned
    withnull = scored.unionByName(
        scored.limit(1).withColumn("hot_logit", F.lit(None).cast("double"))
    )
    rep = calibration_report(withnull, "hot_logit", "label").collect()
    assert sum(r["n"] for r in rep) == scored.count()
    assert all(0 <= r["bin"] < 16 for r in rep)
    assert all(0.0 <= r["frac_pos"] <= 1.0 for r in rep)
