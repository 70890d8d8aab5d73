"""Per-context Column memo (validate_xml_rust_spark/colcache.py): a pure
builder runs once per argument set and SparkContext, a Column argument
bypasses the memo, and a new context never sees the old context's
Columns."""

from __future__ import annotations

from pyspark import SparkContext
from pyspark.sql import functions as F

from validate_xml_rust_spark import colcache


def test_builder_runs_once_per_arguments_and_context(spark, monkeypatch):
    built = []

    @colcache.per_context
    def build(name, k=1):
        built.append(name)
        return {"c": object()}

    first = build("x")
    again = build("x")
    assert again["c"] is first["c"] and again is not first  # dicts are copies
    build("x", k=2)
    build(F.col("x"))  # not a name: built afresh, not memoized
    build(F.col("x"))
    assert len(built) == 4

    class OtherContext:  # a restarted session's context
        pass

    monkeypatch.setattr(SparkContext, "_active_spark_context", OtherContext())
    assert build("x")["c"] is not first["c"]
    monkeypatch.undo()
    assert build("x")["c"] is first["c"]
    assert len(built) == 5


def test_memoized_rules_give_identical_rows_on_a_second_frame(spark):
    """A memoized Column is unresolved: applied to a different frame it
    resolves against that frame's columns."""
    from validate_xml_rust_spark.operators.textstats import c4_rules, gopher_rules

    def rules(df):
        return sorted(
            map(tuple, gopher_rules(c4_rules(df)).drop("text").collect())
        )

    a = spark.createDataFrame(
        [(1, "The cat sat on the mat and that was it.\n" * 4)], "id long, text string"
    )
    b = spark.createDataFrame(
        [(2, "lorem ipsum {x}"), (3, None)], "id long, text string"
    )
    colcache.clear()
    want = rules(b)  # Columns built while applying them to b
    colcache.clear()
    assert rules(a) != want  # Columns built while applying them to a ...
    assert rules(b) == want  # ... and reused on b
