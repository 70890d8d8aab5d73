"""Resume-from-manifest + multimodal plumbing tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from validate_xml_rust_spark.operators.multimodal import (
    decode_image,
    extract_features,
    synthetic_media,
)
from validate_xml_rust_spark.operators.resume import (
    completed_partitions,
    partition_metrics,
    pending_against,
    read_manifest,
    write_manifest,
)
from validate_xml_rust_spark.sources.pages import LANGS, pages, with_partition_id
from validate_xml_rust_spark.specs import Constraint, Spec, SpecRegistry


def _registry() -> SpecRegistry:
    spec = Spec(
        "webpage-v1",
        (
            Constraint("url_not_null", "url", "not_null"),
            Constraint("html_utf8", "html", "utf8", severity="error"),
        ),
    )
    return SpecRegistry().add(spec, route_keys=LANGS)


def _pending(df, spark, manifest):
    """The rows of ``df`` whose partition the manifest does not hold."""
    done = completed_partitions(spark, manifest)
    return df if done is None else pending_against(df, done)


def _resume(df, spark, manifest, run_id) -> int:
    """One resumed run as the CLI composes it: validate the pending
    partitions and commit them as one snapshot; returns how many
    partitions the run committed."""
    from validate_xml_rust_spark.operators.validate import validate

    todo = _pending(df, spark, manifest)
    n = todo.select("partition_id").distinct().count()
    if n:
        verdicts = validate(todo, spark, _registry()).verdicts
        write_manifest(partition_metrics(verdicts, run_id), manifest)
    return n


def test_resume_skips_completed_partitions(spark, tmp_path):
    manifest = str(tmp_path / "manifest")
    df = with_partition_id(pages(spark, 1000), 8)
    # first run: everything pending
    assert _resume(df, spark, manifest, "run-1") == 8
    # second run over the same input: nothing pending
    assert _resume(df, spark, manifest, "run-2") == 0
    # a new partition appears → only it is pending
    extra = with_partition_id(pages(spark, 1000), 8).withColumn(
        "partition_id", F.lit(99)
    )
    todo = _pending(df.unionByName(extra), spark, manifest)
    assert todo.select("partition_id").distinct().collect() == [
        spark.createDataFrame([(99,)], "partition_id int").collect()[0]
    ]
    assert _resume(df.unionByName(extra), spark, manifest, "run-3") == 1


def test_manifest_snapshot_generations(spark, tmp_path):
    """Re-run after PARTIAL completion: the first commit is snapshot 1,
    the resumed remainder commits as snapshot 2, every manifest row
    carries its generation (the Iceberg-snapshot swap-in shape)."""
    manifest = str(tmp_path / "manifest_gen")
    df = with_partition_id(pages(spark, 800), 8)
    first = df.filter(F.col("partition_id") < 4)
    assert _resume(first, spark, manifest, "run-1") == 4
    m1 = read_manifest(spark, manifest)
    assert {r["snapshot_id"] for r in m1.select("snapshot_id").collect()} == {1}
    # resumed run over the full input: only partitions 4-7 are pending,
    # and they commit as generation 2
    assert _resume(df, spark, manifest, "run-2") == 4
    gens = {
        r["partition_id"]: r["snapshot_id"]
        for r in read_manifest(spark, manifest).collect()
    }
    assert set(gens) == set(range(8))
    assert all(gens[p] == 1 for p in range(4))
    assert all(gens[p] == 2 for p in range(4, 8))
    # both generations count as completed — nothing pending
    assert _resume(df, spark, manifest, "run-3") == 0


def test_manifest_upgrade_from_pre_snapshot_schema(spark, tmp_path):
    """A manifest dir written BEFORE the snapshot_id column existed gets
    new-schema generations appended beside the old files: the reader must
    merge schemas (an arbitrary old footer would hide snapshot_id and
    re-issue generation 1), old rows surface as NULL snapshot_id, and the
    committed column is physically long (the declared type)."""
    from validate_xml_rust_spark.operators.validate import validate

    manifest = str(tmp_path / "manifest_mixed")
    df = with_partition_id(pages(spark, 400), 4)
    res = validate(df, spark, _registry())
    metrics = partition_metrics(res.verdicts, "legacy-run")
    # legacy writer: no snapshot_id column at all
    metrics.write.mode("append").parquet(manifest)
    assert dict(read_manifest(spark, manifest).dtypes).get("snapshot_id") is None
    # two new-schema commits on top of the legacy files
    assert write_manifest(partition_metrics(res.verdicts, "run-1"), manifest) == 1
    assert write_manifest(partition_metrics(res.verdicts, "run-2"), manifest) == 2
    m = read_manifest(spark, manifest)
    assert dict(m.dtypes)["snapshot_id"] == "bigint"
    gens = [r["snapshot_id"] for r in m.select("snapshot_id").collect()]
    assert sorted(g for g in gens if g is not None) == [1] * 4 + [2] * 4
    assert sum(1 for g in gens if g is None) == 4  # legacy rows, not dropped


def test_partition_metrics_shape(spark):
    df = with_partition_id(pages(spark, 500), 4)
    from validate_xml_rust_spark.operators.validate import validate

    res = validate(df, spark, _registry())
    m = partition_metrics(res.verdicts, "r1")
    rows = m.collect()
    assert {r["partition_id"] for r in rows} == set(range(4)) or len(rows) <= 4
    assert all(r["n_rows"] == r["n_valid"] + r["n_invalid"] + r["n_error"] + r["n_skipped"] for r in rows)
    assert sum(r["n_rows"] for r in rows) == 500
    # full run: every row materialized, nothing carried forward
    assert all(r["n_carried"] == 0 for r in rows)


def test_partition_metrics_carried_rows_distinguish_incremental(spark):
    """ADVICE r4: an incremental run's manifest n_violations covers only
    the re-validated delta (carried rows have empty violation arrays) —
    n_carried must expose that so consumers can tell the two run modes
    apart instead of comparing incomparable violation counts."""
    from pyspark.sql import functions as F

    from validate_xml_rust_spark.operators.resume import (
        content_fingerprint,
        incremental_verdicts,
    )
    from validate_xml_rust_spark.operators.validate import validate

    df = with_partition_id(pages(spark, 400), 4)
    fcols = ["text", "lang"]
    prior_docs = df.filter(F.col("url").isNotNull())
    prior = prior_docs.select(
        "url", content_fingerprint(fcols).alias("content_fp")
    ).join(
        validate(prior_docs, spark, _registry()).verdicts.select(
            "url", "spec_id", "status", "error_count"
        ),
        "url",
    ).dropDuplicates(["url"])
    inc = incremental_verdicts(
        df, prior, spark, _registry(), fcols, full_output=True
    )
    m = {r["partition_id"]: r for r in partition_metrics(inc, "inc-run").collect()}
    full = {
        r["partition_id"]: r
        for r in partition_metrics(
            validate(df, spark, _registry()).verdicts, "full-run"
        ).collect()
    }
    assert sum(r["n_carried"] for r in m.values()) > 0
    for pid, row in m.items():
        # same data, same statuses — but the incremental manifest's
        # violation count is delta-only and n_carried says so
        assert row["n_rows"] == full[pid]["n_rows"]
        assert row["n_violations"] <= full[pid]["n_violations"]
        assert row["n_carried"] <= row["n_rows"]


def test_media_features_deterministic(spark):
    media = synthetic_media(spark, 60)
    f1 = extract_features(media).orderBy("id").collect()
    f2 = extract_features(media).orderBy("id").collect()
    assert f1 == f2
    assert all(len(r["features"]) == 16 for r in f1)
    assert all(0.0 <= x < 1.0 for r in f1 for x in r["features"])
    assert all(r["payload_bytes"] > 100 for r in f1)


def test_real_decoder_is_stubbed():
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG fake")


def test_media_corrupt_payload_contained(spark):
    # X9: null/corrupt payloads yield null features, never task failures
    rows = [(0, "image", None, None), (1, "image", bytearray(b"ok-bytes"), None)]
    df = spark.createDataFrame(
        rows,
        "id long, kind string, payload binary, "
        "meta struct<width:int,height:int,sample_rate:int,n_frames:int,mime:string>",
    )
    got = {r["id"]: r for r in extract_features(df).collect()}
    assert got[0]["features"] is None and got[0]["payload_bytes"] == 0
    assert got[1]["features"] is not None and got[1]["payload_bytes"] == 8


def _inc_registry() -> SpecRegistry:
    spec = Spec(
        "doc-v1",
        (
            Constraint("text_not_null", "text", "not_null"),
            Constraint(
                "text_long", "text", "expr", {"predicate": "length(text) >= 10"}
            ),
        ),
    )
    return SpecRegistry().add(spec, route_keys=["en"])


def test_incremental_verdicts_routing_and_chaining(spark):
    from validate_xml_rust_spark.operators.resume import (
        content_fingerprint,
        incremental_verdicts,
    )
    from validate_xml_rust_spark.operators.validate import validate

    docs = spark.createDataFrame(
        [(str(i), "a longer than ten chars text %d" % i, "en") for i in range(20)],
        "doc_key string, text string, lang string",
    )
    reg = _inc_registry()
    fcols = ["text", "lang"]

    # prior covers ids 0..14; id 3 has a stale fingerprint (changed since)
    prior_docs = docs.filter(F.col("doc_key").cast("int") < 15)
    prior_res = validate(
        prior_docs, spark, reg, route_col="lang", id_col="doc_key",
        partition_col=None,
    )
    fp = F.when(F.col("doc_key") == "3", F.lit("stale")).otherwise(
        content_fingerprint(fcols)
    )
    # PLANT a wrong verdict on id 7 (fp matches): if reuse really carries
    # forward (no recompute), the wrong verdict must survive verbatim —
    # execution-path evidence the matched rows never re-enter validate()
    pv = prior_res.verdicts.select(
        F.col("url").alias("doc_key"), "spec_id",
        F.when(F.col("url") == "7", "invalid").otherwise(F.col("status")).alias("status"),
        F.when(F.col("url") == "7", 99).otherwise(F.col("error_count")).alias("error_count"),
    )
    prior = prior_docs.select("doc_key", fp.alias("content_fp")).join(pv, "doc_key")

    out = incremental_verdicts(
        docs, prior, spark, reg, fcols, id_col="doc_key",
        route_col="lang", partition_col=None,
    )
    rows = {r["doc_key"]: r for r in out.collect()}
    assert len(rows) == 20
    # new rows (15..19) and the stale row (3) revalidate; rest carry forward
    for k, r in rows.items():
        expected = int(k) >= 15 or k == "3"
        assert r["revalidated"] is expected, (k, r)
    assert rows["3"]["status"] == "valid"  # re-validated fresh
    assert rows["7"]["status"] == "invalid" and rows["7"]["error_count"] == 99
    # chaining: the output (it carries content_fp) is the next run's prior
    out_full = incremental_verdicts(
        docs, prior, spark, reg, fcols, id_col="doc_key",
        route_col="lang", partition_col=None,
    ).select("doc_key", "content_fp", "spec_id", "status", "error_count")
    out2 = incremental_verdicts(
        docs, out_full, spark, reg, fcols, id_col="doc_key",
        route_col="lang", partition_col=None,
    )
    assert out2.filter(F.col("revalidated")).count() == 0
    assert out2.count() == 20


def test_content_fingerprint_null_tagging(spark):
    from validate_xml_rust_spark.operators.resume import content_fingerprint

    df = spark.createDataFrame(
        [("a", None), ("a", "null"), (None, "x"), ("", "x")],
        "c1 string, c2 string",
    )
    fps = [
        r["fp"]
        for r in df.select(content_fingerprint(["c1", "c2"]).alias("fp")).collect()
    ]
    # NULL vs the literal string 'null', and NULL vs '' must all differ
    assert len(set(fps)) == 4


def test_incremental_verdicts_null_and_duplicate_ids(spark):
    """Review repros: NULL-id rows must still be verdicted (they can never
    carry forward — no key — but dropping them loses exactly the
    url-not-null violations a validator exists to report), and duplicate
    ids with different contents must yield one verdict per input row, not
    a cross-multiplied join-back."""
    from validate_xml_rust_spark.operators.resume import (
        content_fingerprint,
        incremental_verdicts,
    )

    reg = _inc_registry()
    fcols = ["text", "lang"]
    docs = spark.createDataFrame(
        [
            (None, "null-id row with plenty of text", "en"),
            ("d", "first content of duplicate id!!", "en"),
            ("d", "second content of duplicate id!", "en"),
            ("u", "a unique unchanged document row", "en"),
        ],
        "doc_key string, text string, lang string",
    )
    prior = (
        docs.filter(F.col("doc_key") == "u")
        .select(
            "doc_key",
            content_fingerprint(fcols).alias("content_fp"),
            F.lit("doc-v1").alias("spec_id"),
            F.lit("valid").alias("status"),
            F.lit(0).alias("error_count"),
        )
    )
    out = incremental_verdicts(
        docs, prior, spark, reg, fcols, id_col="doc_key",
        route_col="lang", partition_col=None,
    ).collect()
    assert len(out) == 4  # one verdict per input row — nothing dropped
    by_key: dict = {}
    for r in out:
        by_key.setdefault(r["doc_key"], []).append(r)
    assert len(by_key[None]) == 1 and by_key[None][0]["revalidated"] is True
    assert by_key[None][0]["status"] == "valid"
    dups = by_key["d"]
    assert len(dups) == 2 and {r["revalidated"] for r in dups} == {True}
    assert len({r["content_fp"] for r in dups}) == 2  # each row its OWN fp
    assert by_key["u"][0]["revalidated"] is False


def test_content_fingerprint_separator_injection(spark):
    """Length-prefixed encoding: values containing the old separator bytes
    must not collide across column boundaries."""
    from validate_xml_rust_spark.operators.resume import content_fingerprint

    df = spark.createDataFrame(
        [("a\x01b", "c"), ("a", "b\x01c"), ("ab", "c"), ("a", "bc")],
        "c1 string, c2 string",
    )
    fps = [
        r["fp"]
        for r in df.select(content_fingerprint(["c1", "c2"]).alias("fp")).collect()
    ]
    assert len(set(fps)) == 4


def test_snapshot_source_seam(spark):
    """The SnapshotSource interface: a custom source (here, one that
    recomputes the split itself — standing in for an Iceberg incremental
    scan) plugs into incremental_verdicts and yields output identical to
    the default ParquetSnapshotSource path."""
    from validate_xml_rust_spark.operators.resume import (
        ParquetSnapshotSource,
        SnapshotSource,
        content_fingerprint,
        incremental_verdicts,
    )
    from validate_xml_rust_spark.operators.validate import validate

    docs = spark.createDataFrame(
        [(str(i), "a longer than ten chars text %d" % i, "en") for i in range(12)],
        "doc_key string, text string, lang string",
    )
    reg = _inc_registry()
    fcols = ["text", "lang"]
    prior_docs = docs.filter(F.col("doc_key").cast("int") < 8)
    pv = validate(
        prior_docs, spark, reg, route_col="lang", id_col="doc_key",
        partition_col=None,
    ).verdicts.select(
        F.col("url").alias("doc_key"), "spec_id", "status", "error_count"
    )
    prior = prior_docs.select(
        "doc_key", content_fingerprint(fcols).alias("content_fp")
    ).join(pv, "doc_key")

    calls: list[list[str]] = []

    class TracingSource(SnapshotSource):
        """Delegates to the parquet impl but proves the seam is what
        incremental_verdicts consumes (an Iceberg source would return the
        same pair from a snapshot-diff scan instead)."""

        def __init__(self) -> None:
            self.inner = ParquetSnapshotSource(prior, id_col="doc_key")

        def split(self, cur, carry_cols):
            calls.append(list(carry_cols))
            return self.inner.split(cur, carry_cols)

    base = incremental_verdicts(
        docs, prior, spark, reg, fcols, id_col="doc_key",
        route_col="lang", partition_col=None,
    )
    seam = incremental_verdicts(
        docs, prior, spark, reg, fcols, id_col="doc_key",
        source=TracingSource(), route_col="lang", partition_col=None,
    )
    assert calls == [[]]  # the seam was exercised exactly once
    key = lambda r: (r["doc_key"],)
    assert sorted(base.collect(), key=key) == sorted(seam.collect(), key=key)
    assert seam.filter(F.col("revalidated")).count() == 4  # ids 8..11


@pytest.mark.parametrize("source_kind", ["parquet"])
def test_snapshot_source_seam_two_implementations(spark, tmp_path, source_kind):
    """incremental_verdicts through the join-based ParquetSnapshotSource
    is identical to a from-scratch full validation: same planted corpus,
    exact carry/delta routing, same verdicts."""
    from pyspark.sql import functions as F

    from validate_xml_rust_spark.operators.resume import (
        ParquetSnapshotSource,
        content_fingerprint,
        incremental_verdicts,
    )
    from validate_xml_rust_spark.operators.validate import validate

    docs = with_partition_id(pages(spark, 400), 4).withColumn(
        "doc_key", F.coalesce(F.col("url"), F.concat(F.lit("k"), F.col("partition_id")))
    )
    fcols = ["text", "lang"]
    # prior covers 3/4 of the corpus; every 5th prior row carries a stale
    # fingerprint (content "changed") — same planting as the driver gate
    prior_docs = docs.filter(F.xxhash64("doc_key") % 4 != 0)
    prior_v = validate(prior_docs, spark, _registry(), id_col="doc_key").verdicts
    stale = F.when(F.xxhash64("doc_key") % 5 == 0, F.lit("stale")).otherwise(
        content_fingerprint(fcols)
    )
    prior = prior_docs.select("doc_key", stale.alias("content_fp")).join(
        prior_v.select(F.col("url").alias("doc_key"), "spec_id", "status",
                       "error_count"),
        "doc_key",
    ).dropDuplicates(["doc_key"])

    src = ParquetSnapshotSource(prior, id_col="doc_key")
    out = incremental_verdicts(
        docs, prior, spark, _registry(), fcols, id_col="doc_key",
        source=src,
    ).orderBy("doc_key", "content_fp").collect()
    # identical to a from-scratch full validation, with exact routing
    full = {
        (r["url"],): (r["spec_id"], r["status"], r["error_count"])
        for r in validate(docs, spark, _registry(), id_col="doc_key")
        .verdicts.collect()
    }
    assert len(out) == 400
    n_carried = sum(1 for r in out if not r["revalidated"])
    assert n_carried > 0
    for r in out:
        assert full[(r["doc_key"],)] == (
            r["spec_id"], r["status"], r["error_count"]
        ), r["doc_key"]
