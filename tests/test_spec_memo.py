"""The compiled specs and verdict Columns are memoized per session on the
registry's content: a registry changed in place gives the new verdicts,
repeated table constraints of one kind keep their own results inside one
unioned plan, and a named pandas checker is looked up again once the memo
is cleared."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from validate_xml_rust_spark import colcache
from validate_xml_rust_spark.operators.orchestrate import validate_full
from validate_xml_rust_spark.operators.validate import validate
from validate_xml_rust_spark.specs import Constraint, Spec, SpecRegistry


def _docs(spark):
    rows = [
        (f"http://h{i % 3}.example/{i % 7}", ["en", "fr", "de"][i % 3],
         "The cat sat on the mat. " * (i % 4) + "x" * (i % 5))
        for i in range(30)
    ]
    return spark.createDataFrame(rows, "url string, lang string, text string")


def _verdicts(df, spark, registry) -> list[tuple]:
    v = validate(df, spark, registry, partition_col=None).verdicts
    return sorted(
        (r["url"], r["status"], r["error_count"], tuple(r["error_details"]))
        for r in v.collect()
    )


def test_registry_changed_in_place_gives_new_verdicts(spark):
    df = _docs(spark)
    text_len = Constraint("text_len", "text", "length", {"lo": 1, "hi": 40})
    reg = SpecRegistry().add(Spec("s", (text_len,)), route_keys=["en"])

    def fresh() -> list[tuple]:
        # the same content in a new registry, compiled from an empty memo
        colcache.clear()
        copy = SpecRegistry(dict(reg.specs), dict(reg.routes))
        return _verdicts(df, spark, copy)

    first = _verdicts(df, spark, reg)
    reg.add_route("fr", "s")
    routed = _verdicts(df, spark, reg)
    assert routed != first and routed == fresh()

    reg.add(Spec("s", (Constraint("text_len", "text", "length", {"lo": 1, "hi": 80}),)))
    loosened = _verdicts(df, spark, reg)
    assert loosened != routed and loosened == fresh()

    reg.add(Spec("s", (
        Constraint("text_len", "text", "length", {"lo": 1, "hi": 80}),
        Constraint("no_fr", "lang", "isin", {"values": ["en"]}),
    )))
    extended = _verdicts(df, spark, reg)
    assert extended != loosened and extended == fresh()
    assert any("no_fr" in d for *_, details in extended for d in details)


# count and sha256 of the sorted violation rows of the spec below, as the
# unmemoized build gave them
TWICE_ROWS = 39
TWICE_DIGEST = "37dee82f9278710df7997a36b6f6bb9d15d57435593d224a72554b1315232b6b"


def test_repeated_table_kinds_keep_their_own_violations(spark):
    """Two ``unique`` and two ``host_quality`` constraints in one spec:
    each memoized Column appears twice in the unioned violations plan."""
    df = _docs(spark).withColumn("host", F.parse_url("url", F.lit("HOST")))
    spec = Spec("s", (
        Constraint("uq_url", "url", "unique"),
        Constraint("uq_url_lang", "url", "unique", {"keys": ["url", "lang"]}),
        # host means are 0.72, 0.79 and 0.76: one host, then two fall short
        Constraint("hq_low", "host", "host_quality", {"min_mean_quality": 0.75}),
        Constraint("hq_high", "host", "host_quality",
                   {"min_mean_quality": 0.78, "min_docs": 2}),
    ))
    reg = SpecRegistry().add(spec, route_keys=["en", "fr", "de"])
    runs = []
    for _ in range(2):  # cold, then from the memo
        res = validate_full(df, spark, reg)
        runs.append(sorted(tuple(r) for r in res.table_violations.collect()))
    assert runs[0] == runs[1]
    rows = runs[1]
    assert {r[1] for r in rows} == {"uq_url", "uq_url_lang", "hq_low", "hq_high"}
    digest = hashlib.sha256(repr(rows).encode()).hexdigest()
    assert (len(rows), digest) == (TWICE_ROWS, TWICE_DIGEST)


def test_pandas_check_resolves_its_checker_after_clear(spark):
    from validate_xml_rust_spark.functions import pandas_checks as pc

    df = _docs(spark)
    spec = Spec("s", (Constraint("probe", "text", "pandas_check",
                                 {"checker": "memo_probe"}),))
    reg = SpecRegistry().add(spec, route_keys=["en", "fr", "de"])

    def statuses() -> set[str]:
        return {s for _, s, _, _ in _verdicts(df, spark, reg)}

    try:
        pc.CHECKERS["memo_probe"] = lambda s: s.map(lambda v: True)
        assert statuses() == {"valid"}
        pc.CHECKERS["memo_probe"] = lambda s: s.map(lambda v: False)
        colcache.clear()
        assert statuses() == {"invalid"}
    finally:
        del pc.CHECKERS["memo_probe"]
        colcache.clear()
