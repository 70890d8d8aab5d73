"""Repeated runs in one session repeat their Spark work exactly: each
near-dedup operator runs the same stages and shuffles the same records
every time (no racing cache fills), leaves only its result's blocks behind,
runs its shingle / winnowing UDF once per document, and a warm curate or
validate_full run reuses the memoized Columns and generated classes of the
first instead of rebuilding them."""

from __future__ import annotations

import gc

import pandas as pd
import pytest

from validate_xml_rust_spark.ckpt import block_ids_of, release_blocks


def _status_mark(spark) -> tuple[int, int]:
    """(newest stage id, newest job id) in the status store, -1 if none."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    stages = _stage_list(spark)
    jobs = store.jobsList(None)
    return (
        int(stages.apply(0).stageId()) if stages.size() else -1,
        int(jobs.apply(0).jobId()) if jobs.size() else -1,
    )


def _stage_list(spark):
    # Spark 4.1: stageList(statuses, details, withSummaries, quantiles,
    # taskStatus), newest first
    gw = spark.sparkContext._gateway
    return spark.sparkContext._jsc.sc().statusStore().stageList(
        None, False, False, gw.new_array(gw.jvm.double, 0), gw.jvm.java.util.ArrayList()
    )


def _status_delta(spark, mark: tuple[int, int]) -> dict:
    """Jobs, run (not skipped) stages and shuffle records written since
    ``mark``. Skipped stages are not compared: whether a reused shuffle
    stage is listed under a new id depends on what ran before."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    out = {"jobs": 0, "stages": 0, "shuffle_write_records": 0}
    stages = _stage_list(spark)
    for i in range(stages.size()):
        st = stages.apply(i)
        if int(st.stageId()) <= mark[0]:
            break
        if st.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        out["shuffle_write_records"] += int(st.shuffleWriteRecords())
    jobs = jsc.statusStore().jobsList(None)
    out["jobs"] = sum(
        1 for i in range(jobs.size()) if int(jobs.apply(i).jobId()) > mark[1]
    )
    return out


def _persistent_ids(spark) -> set[int]:
    return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


DEDUP_OPERATORS = [
    "minhash_near_duplicates",
    "simhash_near_duplicates",
    "winnow_candidate_pairs",
    "shared_passage_candidates",
]


@pytest.mark.parametrize("name", DEDUP_OPERATORS)
def test_dedup_operator_repeats_its_job_graph(spark, name):
    """Three calls over the same corpus: identical jobs, run stages and
    shuffle records (status-store deltas), and each call's only new
    persisted RDD is its result checkpoint."""
    from validate_xml_rust_spark.operators import dedup
    from validate_xml_rust_spark.sources.corpus import synthetic_documents

    docs = synthetic_documents(spark, 600, 4)
    runs = []
    for _ in range(3):
        before = _persistent_ids(spark)
        mark = _status_mark(spark)
        out = getattr(dedup, name)(docs)
        delta = _status_delta(spark, mark)
        assert _persistent_ids(spark) - before == set(block_ids_of(out))
        runs.append((delta, sorted(tuple(r) for r in out.collect())))
        release_blocks(spark.sparkContext, block_ids_of(out))
    assert runs[0][1], "the corpus plants near duplicates"
    assert runs[0][0]["shuffle_write_records"] > 0
    assert all(r == runs[0] for r in runs), [r[0] for r in runs]


def test_dedup_udfs_run_once_per_document(spark, monkeypatch):
    """Near-dedup shingles each document once, the winnowing operators
    fingerprint each document once, and passage marking hashes each
    document's positional grams once: a pass-through pandas UDF fed by the
    shingle / winnowing / positional-gram UDF counts the rows it sees. A
    UDF column taken in one select and signed in the next, exploded after
    an earlier projection, or read by two unmaterialized branches, is
    evaluated twice."""
    from pyspark.sql import functions as F

    from validate_xml_rust_spark import colcache
    from validate_xml_rust_spark.functions import texthash
    from validate_xml_rust_spark.operators import dedup
    from validate_xml_rust_spark.sources.corpus import synthetic_documents

    rows = spark.sparkContext.accumulator(0)

    @F.pandas_udf("array<long>")
    def counted(batch: pd.Series) -> pd.Series:
        rows.add(len(batch))
        return batch

    shingle_hashes, winnow = dedup.shingle_hashes, texthash.winnow_fingerprints_udf
    seq_grams = texthash.seq_gram_hashes
    monkeypatch.setattr(dedup, "shingle_hashes", lambda *a: counted(shingle_hashes(*a)))
    monkeypatch.setattr(
        texthash, "winnow_fingerprints_udf", lambda *a: counted(winnow(*a))
    )
    monkeypatch.setattr(texthash, "seq_gram_hashes", lambda *a: counted(seq_grams(*a)))
    # Columns memoized before (or during) the hook would hide (or keep) it
    colcache.clear()
    try:
        n = 600
        docs = synthetic_documents(spark, n, 4)
        runs = {
            "near_dedup": lambda: dedup.near_dedup(docs),
            "winnow_candidate_pairs": lambda: dedup.winnow_candidate_pairs(docs),
            "shared_passage_candidates": lambda: dedup.shared_passage_candidates(docs),
            "excise_shared_passages": lambda: dedup.excise_shared_passages(
                docs, prefilter=False
            ),
            "shared_passage_stats": lambda: dedup.shared_passage_stats(
                docs, prefilter=False
            ),
        }
        seen = {}
        for name, run in runs.items():
            start = rows.value
            run().collect()
            seen[name] = (rows.value - start) / n
    finally:
        colcache.clear()
    assert seen == dict.fromkeys(seen, 1.0), seen


def test_warm_curate_run_compiles_almost_nothing(spark, tmp_path):
    """The session's generated-class cache holds a whole curate run: the
    second dolma run over the same input compiles at most 5 classes
    (CodegenMetrics compilation count; 60-89 per warm iteration at Spark's
    default 100-entry cache)."""
    from validate_xml_rust_spark.pipeline import curate, preset_kwargs
    from validate_xml_rust_spark.sources.corpus import prose_documents

    path = str(tmp_path / "docs")
    prose_documents(spark, 300, 2).write.parquet(path)
    timer = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    compiled = []
    for _ in range(2):
        n0 = timer.getCount()
        res = curate(spark.read.parquet(path), spark, **preset_kwargs("dolma"))
        res.kept.write.parquet(str(tmp_path / f"out{len(compiled)}"))
        compiled.append(timer.getCount() - n0)
        res.release()
    print("classes compiled per run:", compiled)
    assert compiled[1] <= 5, compiled


def test_warm_curate_stays_within_py4j_and_job_budgets(spark, tmp_path, monkeypatch):
    """A warm dolma curate() reuses its memoized rule Columns and takes its
    step counts from observations on the checkpoint passes: at most 1,400
    py4j round trips (a counting hook on the gateway client's
    ``send_command``) and 25 Spark jobs (status-store delta) over 300
    prose docs. Measured 1,055-1,160 calls and 20 jobs; with the dedup
    operators rebuilding their Columns it took 2,160-2,410 calls, and
    rebuilding every rule expression and counting with separate jobs
    ~7,200 calls and 28 jobs."""
    from validate_xml_rust_spark.pipeline import curate, preset_kwargs
    from validate_xml_rust_spark.sources.corpus import prose_documents

    path = str(tmp_path / "docs")
    prose_documents(spark, 300, 2).write.parquet(path)

    def run() -> dict:
        res = curate(spark.read.parquet(path), spark, **preset_kwargs("dolma"))
        res.release()
        return res.report

    run()  # warm: builds and memoizes the Columns
    client_cls = type(spark.sparkContext._gateway._gateway_client)
    send = client_cls.send_command
    calls = [0]

    def counting(self, *args, **kwargs):
        calls[0] += 1
        return send(self, *args, **kwargs)

    mark = _status_mark(spark)
    monkeypatch.setattr(client_cls, "send_command", counting)
    report = run()
    monkeypatch.undo()
    jobs = _status_delta(spark, mark)["jobs"]
    assert report["steps"][-1]["rows_out"] > 0
    assert calls[0] <= 1400, calls[0]
    assert jobs <= 25, jobs


def _pages_registry():
    """perfbench's validate_pages registry: six row checks plus a url
    uniqueness, a host-quality and a vocabulary-drift check."""
    from validate_xml_rust_spark.sources import pages
    from validate_xml_rust_spark.specs import Constraint, Spec, SpecRegistry

    checks = (
        Constraint("url_not_null", "url", "not_null"),
        Constraint("url_format", "url", "regex", {"pattern": r"^https?://.*"}),
        Constraint(
            "warc_ts_range", "warc_ts", "range",
            {"lo": "2025-01-01 00:00:00", "hi": "2026-01-01 00:00:00"},
        ),
        Constraint("html_utf8", "html", "utf8", severity="error"),
        Constraint("html_len", "html", "length", {"lo": 1, "hi": 100_000}),
        Constraint("lang_enum", "lang", "isin", {"values": pages.LANGS}),
        Constraint("uq_url", "url", "unique"),
        Constraint("hq_host", "host", "host_quality",
                   {"min_mean_quality": 0.6, "min_docs": 10}),
        Constraint("vocab_drift", "text", "drift", {"test": "vocab"}),
    )
    return SpecRegistry().add(Spec("webpage-v1", checks), route_keys=pages.LANGS)


def test_warm_validate_full_stays_within_py4j_and_job_budgets(spark, tmp_path, monkeypatch):
    """A warm validate_full + write_results run over 3k pages reuses its
    compiled specs, verdict Columns and table-check Columns, and spells
    each drift baseline as one expression: its second warm run makes at
    most 3,000 py4j round trips, 13 Spark jobs and 5 compiled classes.
    Measured 930-1,050 round trips, 13 jobs (15 while vocab drift
    checkpointed its counts) and 0-4 classes (6 once); rebuilding every
    rule expression and one literal per vocabulary bucket took 9,700-10,600
    round trips."""
    from pyspark.sql import functions as F

    from validate_xml_rust_spark.operators.orchestrate import validate_full
    from validate_xml_rust_spark.operators.outputs import write_results
    from validate_xml_rust_spark.sources import pages

    path = str(tmp_path / "pages")
    pages.pages(spark, 3000, 3).write.parquet(path)
    registry = _pages_registry()
    timer = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def run(i: int) -> int:
        n0 = timer.getCount()
        df = pages.with_partition_id(spark.read.parquet(path)).withColumn(
            "host", F.parse_url(F.col("url"), F.lit("HOST"))
        )
        res = validate_full(df, spark, registry)
        write_results(res.row_result.verdicts, res.all_violations(), str(tmp_path / f"out{i}"))
        res.release()
        return timer.getCount() - n0

    run(0)  # cold: compiles the specs and memoizes the Columns
    run(1)  # the first warm run still compiles ~4 classes (CHANGES.md FOUND)
    gc.collect()  # JVM handles that earlier tests dropped are released now
    client_cls = type(spark.sparkContext._gateway._gateway_client)
    send = client_cls.send_command
    calls = [0]

    def counting(self, *args, **kwargs):
        calls[0] += 1
        return send(self, *args, **kwargs)

    mark = _status_mark(spark)
    monkeypatch.setattr(client_cls, "send_command", counting)
    compiled = run(2)
    monkeypatch.undo()
    jobs = _status_delta(spark, mark)["jobs"]
    seen = {"round_trips": calls[0], "jobs": jobs, "classes_compiled": compiled}
    assert calls[0] <= 3000, seen
    assert jobs <= 13, seen
    assert compiled <= 5, seen


def test_cli_stays_within_job_budgets(spark, tmp_path, capsys):
    """Three in-process CLI runs per mode over 3k synthetic pages: each run
    stays within its Spark-job budget and leaves no persisted RDD behind.
    Budgets are the counts measured in this test session before the CLI
    wrote through ``write_results`` (a flat and a partitioned write of the
    same checkpoint each take 2 jobs): --output 7, --prior --output 10 on
    an empty store and 17 on a filled one, --quarantine --output 10. A
    spec with a ``unique`` constraint adds its table-check jobs; it is
    budgeted on leftover blocks only."""
    import json

    from validate_xml_rust_spark.cli import main

    spec = tmp_path / "uq.json"
    spec.write_text(json.dumps({"spec_id": "uq-v1", "constraints": [
        {"constraint_id": "url_nn", "column": "url", "kind": "not_null"},
        {"constraint_id": "uq_url", "column": "url", "kind": "unique"},
    ]}))
    store = str(tmp_path / "store")
    modes = {
        "output": ([], (7, 7, 7)),
        "prior": (["--prior", store], (10, 17, 17)),
        "quarantine": (["--quarantine", str(tmp_path / "q")], (10, 10, 10)),
        "unique": (["--spec", str(spec)], None),
    }
    for mode, (extra, budgets) in modes.items():
        for i in range(3):
            before = _persistent_ids(spark)
            mark = _status_mark(spark)
            code = main(["synth:3000", "-q", *extra, "--output", str(tmp_path / f"{mode}{i}")])
            seen = {"mode": mode, "run": i, "code": code,
                    "jobs": _status_delta(spark, mark)["jobs"],
                    "left": _persistent_ids(spark) - before}
            assert code in (2, 3), seen
            assert not seen["left"], seen
            if budgets is not None:
                assert seen["jobs"] <= budgets[i], seen


def test_store_metadata_launches_no_spark_jobs(spark, tmp_path, monkeypatch):
    """The durable stores keep their commit state in a driver-side log:
    reading it (``SignatureStore.generations``) and publishing each commit
    record launch no Spark job. Kept as one-row parquet writes and reads,
    they took 4 jobs per read and 1 per record."""
    from pyspark.sql import functions as F

    from validate_xml_rust_spark import genlog
    from validate_xml_rust_spark.operators import outputs, resume
    from validate_xml_rust_spark.operators.dedup import SignatureStore

    docs = spark.createDataFrame(
        [(i, f"doc {i} body " * (1 + i % 4)) for i in range(160)],
        "doc_id long, text string",
    ).withColumn("n_tokens", F.length("text"))
    sketch = spark.createDataFrame(
        [(i, [i * 100 + k for k in range(32)], [i]) for i in range(6)],
        "doc_id long, sig array<long>, shingles array<long>",
    )
    metrics = spark.createDataFrame(
        [(0, "r1", 10)], "partition_id int, run_id string, n_rows long"
    )
    shards, mdir = str(tmp_path / "shards"), str(tmp_path / "manifest")
    store = SignatureStore(spark, str(tmp_path / "store"))

    def build() -> None:
        outputs.write_training_shards(docs, shards, 1500)
        store.commit(sketch.filter("doc_id < 3"))
        store.commit(sketch.filter("doc_id >= 3"))
        store.compact()
        resume.write_manifest(metrics, mdir)

    build()
    mark = _status_mark(spark)
    store.generations()
    assert _status_delta(spark, mark)["jobs"] == 0

    append, record_jobs = genlog.append, []

    def counted(root, record):
        mark = _status_mark(spark)
        gen = append(root, record)
        record_jobs.append(_status_delta(spark, mark)["jobs"])
        return gen

    monkeypatch.setattr(genlog, "append", counted)
    build()
    # begin + done for the shard write, two commits and a compaction, one
    # manifest snapshot
    assert record_jobs == [0] * 6, record_jobs
