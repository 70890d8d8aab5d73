"""The generation log and the three stores that commit through it: the
near-dedup SignatureStore, the training-shard store's begin/done log and
the resume manifest. A crash at any write, record or rename step leaves
each store readable, with exactly its committed generations."""

from __future__ import annotations

import os
import sys
import threading

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from validate_xml_rust_spark import genlog
from validate_xml_rust_spark.operators.dedup import SignatureStore
from validate_xml_rust_spark.operators.outputs import (
    verify_shards,
    write_training_shards,
)
from validate_xml_rust_spark.operators.resume import read_manifest, write_manifest


def test_append_takes_next_free_generation_on_race(tmp_path, monkeypatch):
    """A writer whose computed generation is already taken (another
    writer published it after this one listed the log) moves on to the
    next free one: never a duplicate, never an overwritten record."""
    root = str(tmp_path / "store")
    assert genlog.append(root, {"who": "a"}) == 1
    with open(os.path.join(root, genlog.LOG_DIR, "2.json"), "w") as f:
        f.write('{"who": "b"}')
    # a stale listing: this writer believes the log is empty, so it
    # computes generation 1, then finds 1 and 2 taken
    monkeypatch.setattr(genlog, "_generations", lambda log: [])
    assert genlog.append(root, {"who": "c"}) == 3
    monkeypatch.undo()
    assert [(r["generation"], r["who"]) for r in genlog.records(root)] == [
        (1, "a"), (2, "b"), (3, "c"),
    ]

    # real concurrent writers (more threads than cores, frequent thread
    # switches): every append gets its own generation
    got = []

    def writer(i):
        for j in range(5):
            got.append(genlog.append(root, {"who": f"t{i}.{j}"}))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=writer, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert sorted(got) == list(range(4, 44))
    recs = genlog.records(root)
    assert [r["generation"] for r in recs] == list(range(1, 44))
    assert len({r["who"] for r in recs}) == 43
    # no temp file is left behind
    assert sorted(os.listdir(os.path.join(root, genlog.LOG_DIR))) == sorted(
        f"{g}.json" for g in range(1, 44)
    )


def test_records_skip_temp_files_and_reset(tmp_path):
    root = str(tmp_path / "store")
    assert genlog.records(root) == []
    genlog.append(root, {"k": 1})
    # a crash between the temp write and the link leaves a temp file
    with open(os.path.join(root, genlog.LOG_DIR, ".x.tmp"), "w") as f:
        f.write("{")
    assert [r["k"] for r in genlog.records(root)] == [1]
    assert genlog.append(root, {"k": 2}) == 2
    genlog.reset(root)
    assert genlog.records(root) == []
    assert genlog.append(root, {"k": 3}) == 1


class _Crash(RuntimeError):
    pass


def _arm(monkeypatch, step: str) -> None:
    """Raise ``_Crash`` at ``step``: ``write:<suffix>`` before the parquet
    write whose path ends with the suffix; ``record:<k>`` before the k-th
    record is published (its temp file is already written);
    ``linked:<k>`` right after the k-th record is published; ``reset``
    instead of a log reset."""
    kind, _, arg = step.partition(":")
    if kind == "write":
        parquet = DataFrameWriter.parquet

        def crashing_parquet(self, path, *a, **k):
            if path.endswith(arg):
                raise _Crash(step)
            return parquet(self, path, *a, **k)

        monkeypatch.setattr(DataFrameWriter, "parquet", crashing_parquet)
    elif kind in ("record", "linked"):
        link, calls = os.link, []

        def crashing_link(src, dst, *a, **k):
            calls.append(dst)
            if len(calls) == int(arg) and kind == "record":
                raise _Crash(step)
            link(src, dst, *a, **k)
            if len(calls) == int(arg):
                raise _Crash(step)

        monkeypatch.setattr(genlog.os, "link", crashing_link)
    elif kind == "reset":

        def crashing_reset(root):
            raise _Crash(step)

        monkeypatch.setattr(genlog, "reset", crashing_reset)
    else:
        raise AssertionError(step)


def _sketch(spark, ids):
    return spark.createDataFrame(
        [(i, [i * 100 + k for k in range(32)], [i]) for i in ids],
        "doc_id long, sig array<long>, shingles array<long>",
    )


def _docs(spark, lo, hi):
    return spark.createDataFrame(
        [(i, f"doc {i} body " * (1 + i % 4)) for i in range(lo, hi)],
        "doc_id long, text string",
    ).withColumn("n_tokens", F.length("text"))


def _signature_store(spark, root, compact):
    store = SignatureStore(spark, root)
    store.commit(_sketch(spark, range(0, 5)))
    store.commit(_sketch(spark, range(5, 8)))
    before = store.generations()
    op = store.compact if compact else lambda: store.commit(_sketch(spark, [8, 9]))
    return store, before, op


def _check_signature(spark, store, before, published, compact):
    gens = store.generations()
    if not published:
        assert gens == before
    elif compact:
        assert [(g, n) for g, _, n in gens] == [(3, 8)]
    else:
        assert [(g, n) for g, _, n in gens] == [(1, 5), (2, 3), (3, 2)]
    n_live = sum(n for _, _, n in gens)
    assert store.sketch_frame().count() == n_live
    assert store.bands_frame().select("doc_id").distinct().count() == n_live
    # the next commit succeeds and numbers after every published record
    head = genlog.records(store.root)[-1]["generation"]
    assert store.commit(_sketch(spark, [20, 21])) == head + 1
    assert store.compact() == head + 2
    assert store.sketch_frame().count() == n_live + 2


def _persistent_ids(spark) -> set[int]:
    return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


def _check_shards(spark, out, half_applied):
    """A healthy store audits all valid; a half-applied write makes every
    shard an error naming the open generation (the log's only write)."""
    audit = verify_shards(spark, out, 1500).collect()
    assert audit
    if not half_applied:
        assert {r["status"] for r in audit} == {"valid"}
        return
    named = "generation 1 begun but never committed"
    for row in audit:
        assert row["status"] == "error", row
        assert any(named in d for d in row["error_details"]), row


CRASH_POINTS = [
    ("signature_commit", "write:/sketch"),
    ("signature_commit", "write:/bands"),
    ("signature_commit", "record:1"),
    ("signature_commit", "linked:1"),
    ("signature_compact", "write:/sketch"),
    ("signature_compact", "write:/bands"),
    ("signature_compact", "record:1"),
    ("signature_compact", "linked:1"),
    ("shard_write", "reset"),
    ("shard_write", "record:1"),
    ("shard_write", "write:/shards"),
    ("shard_write", "write:/manifest"),
    ("shard_write", "record:2"),
    ("shard_write", "linked:2"),
    ("manifest", "record:1"),
    ("manifest", "linked:1"),
    ("manifest", "write:/resume"),
    ("signature_legacy_catalog", "open"),
]


@pytest.mark.parametrize(
    "store,step", CRASH_POINTS, ids=[f"{s}-{p}" for s, p in CRASH_POINTS]
)
def test_store_survives_crash_at_every_step(spark, tmp_path, monkeypatch, store, step):
    """Crash one commit at ``step``, reopen the store: its generations are
    exactly the committed ones, a half-applied shard write is named by
    verify_shards, manifest snapshot ids stay unique, the next commit
    succeeds with a higher generation, and the crashed call leaves no
    persisted blocks behind."""
    root = str(tmp_path / "store")
    if store == "signature_legacy_catalog":
        # the older layout: a parquet catalog beside gen-1, no log
        _sketch(spark, [1]).write.parquet(f"{root}/catalog")
        _sketch(spark, [1]).write.parquet(f"{root}/gen-1/sketch")
        before = sorted(os.listdir(f"{root}/gen-1/sketch"))
        legacy = SignatureStore(spark, root)
        with pytest.raises(ValueError, match="catalog/"):
            legacy.generations()
        with pytest.raises(ValueError, match="catalog/"):
            legacy.commit(_sketch(spark, [2]))
        assert sorted(os.listdir(f"{root}/gen-1/sketch")) == before
        return

    def crash(op) -> None:
        blocks = _persistent_ids(spark)
        _arm(monkeypatch, step)
        with pytest.raises(_Crash):
            op()
        monkeypatch.undo()
        assert _persistent_ids(spark) == blocks

    if store.startswith("signature"):
        compact = store == "signature_compact"
        sig, before, op = _signature_store(spark, root, compact)
        crash(op)
        _check_signature(
            spark, sig, before, step.startswith("linked"), compact
        )
    elif store == "shard_write":
        write_training_shards(_docs(spark, 0, 120), root, 1500)
        crash(lambda: write_training_shards(_docs(spark, 0, 160), root, 1500))
        begun = step in ("write:/shards", "write:/manifest", "record:2")
        _check_shards(spark, root, begun)
        write_training_shards(_docs(spark, 0, 160), root, 1500)
        assert [r["phase"] for r in genlog.records(root)] == ["begin", "done"]
        _check_shards(spark, root, False)
    elif store == "manifest":
        mdir = f"{root}/resume"

        def metrics(run_id):
            return spark.createDataFrame(
                [(p, run_id, 10) for p in range(3)],
                "partition_id int, run_id string, n_rows long",
            )

        assert write_manifest(metrics("r1"), mdir) == 1
        crash(lambda: write_manifest(metrics("r2"), mdir))
        published = step != "record:1"
        assert genlog.records(mdir)[-1]["generation"] == (2 if published else 1)
        rows = read_manifest(spark, mdir).collect()
        assert {(r["run_id"], r["snapshot_id"]) for r in rows} == {("r1", 1)}
        sid = write_manifest(metrics("r3"), mdir)
        assert sid == (3 if published else 2)
        by_run = {}
        for r in read_manifest(spark, mdir).collect():
            by_run.setdefault(r["snapshot_id"], set()).add(r["run_id"])
        assert by_run == {1: {"r1"}, sid: {"r3"}}
    else:
        raise AssertionError(store)
