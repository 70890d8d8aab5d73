"""Dedup + similarity operator properties (planted-duplicate recall)."""

from __future__ import annotations

from pyspark.sql import functions as F

from validate_xml_rust_spark.operators.dedup import (
    exact_dedup,
    exact_duplicates,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    simhash_near_duplicates,
)
from validate_xml_rust_spark.operators.similarity import (
    ann_topk,
    brute_force_topk,
    embedding_near_duplicates,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden outside"
)
NEAR = BASE.replace("lazy dog", "sleepy dog")  # one-token change
FAR = "completely unrelated text about spark shuffles partitions and joins"


def _docs(spark):
    rows = [
        (0, BASE), (1, BASE), (2, NEAR), (3, FAR),
        (4, "another distinct document entirely about benchmark results"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates_and_dedup(spark):
    d = _docs(spark)
    groups = exact_duplicates(d).collect()
    assert len(groups) == 1
    assert groups[0]["n_dup"] == 2 and groups[0]["keep_id"] == 0
    kept = exact_dedup(d)
    assert kept.count() == 4
    assert kept.filter(F.col("doc_id") == 1).count() == 0  # dup dropped
    # whitespace/case-insensitive: normalized variants collapse too
    d2 = spark.createDataFrame(
        [(0, "Hello  World"), (1, "hello world "), (2, "other")],
        "doc_id long, text string",
    )
    assert exact_dedup(d2).count() == 2
    # NULL-text rows are not duplicates of each other — ALL survive (an
    # inner fingerprint join-back would silently drop every one)
    d3 = spark.createDataFrame(
        [(0, "same"), (1, "same"), (2, None), (3, None)],
        "doc_id long, text string",
    )
    kept3 = {r["doc_id"] for r in exact_dedup(d3).collect()}
    assert kept3 == {0, 2, 3}
    # precomputed-fingerprint path: same keeps, caller's column preserved
    from validate_xml_rust_spark.operators.dedup import fingerprint

    pre = exact_dedup(fingerprint(d3), fingerprint_col="fingerprint")
    assert "fingerprint" in pre.columns
    assert {r["doc_id"] for r in pre.collect()} == {0, 2, 3}


def test_incremental_dedup_against_store(spark):
    """New slice vs historical fingerprint store: store hits drop,
    within-slice dups keep min id, NULL texts pass through."""
    from validate_xml_rust_spark.operators.dedup import (
        fingerprint,
        incremental_dedup,
    )

    history = spark.createDataFrame(
        [(0, "seen before"), (1, "also seen")], "doc_id long, text string"
    )
    store = fingerprint(history).select("fingerprint")
    new = spark.createDataFrame(
        [
            (10, "seen before"),   # in store → dropped
            (11, "brand new"),     # kept
            (12, "brand new"),     # within-slice dup of 11 → dropped
            (13, None),            # null text → kept (not a duplicate)
            (14, "Also  Seen "),   # normalizes to a store hit → dropped
            (15, None),            # second null text → ALSO kept (NULL
                                   # fingerprints are not dups of each other)
        ],
        "doc_id long, text string",
    )
    out = incremental_dedup(new, store)
    assert out.columns == ["doc_id", "text"]  # fingerprint not leaked
    kept = {r["doc_id"] for r in out.collect()}
    assert kept == {11, 13, 15}
    # broadcast escape hatch yields the same result
    kept_bc = {
        r["doc_id"]
        for r in incremental_dedup(new, store, broadcast_seen=True).collect()
    }
    assert kept_bc == kept


def test_minhash_finds_identical_and_near(spark):
    d = _docs(spark)
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_near_duplicates(d, threshold=0.5).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs or (1, 2) in pairs  # near-dup found
    # unrelated docs never pass the verify threshold
    assert all(3 not in p and 4 not in p for p in pairs)


def test_minhash_recall_vs_bruteforce(spark):
    # every brute-force pair with jaccard >= 0.8 must be recalled by LSH
    d = _docs(spark)
    brute = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(d, threshold=0.8).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_duplicates(d, threshold=0.8).collect()
    }
    assert brute <= lsh or brute == lsh  # recall: no misses at j>=0.8


def test_simhash_identical_zero_hamming(spark):
    d = _docs(spark)
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_duplicates(d, max_hamming=16).collect()
    }
    assert pairs[(0, 1)] == 0
    assert pairs[(0, 2)] <= 16  # near text → small simhash distance


def _emb(spark):
    import math

    rows = []
    for i in range(40):
        base = [math.sin(i * 0.7 + d) for d in range(8)]
        rows.append((i, [float(x) for x in base]))
    # plant: 100 = exact copy of 0; 101 = slightly perturbed 0
    rows.append((100, rows[0][1]))
    rows.append((101, [x + 0.01 for x in rows[0][1]]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk_exactness(spark):
    e = _emb(spark)
    q = [float(x) for x in e.filter("vec_id = 0").collect()[0]["embedding"]]
    top = brute_force_topk(e, q, k=3, exclude_id=0).collect()
    ids = [r["vec_id"] for r in top]
    assert ids[0] == 100  # exact copy first
    assert top[0]["cos_sim"] >= 0.999999
    assert 101 in ids[:2]  # perturbed copy right behind


def test_ann_topk_recalls_planted_duplicate(spark):
    e = _emb(spark)
    q = [float(x) for x in e.filter("vec_id = 0").collect()[0]["embedding"]]
    top = ann_topk(e, q, k=3, n_planes=8, probe_hamming=2, exclude_id=0).collect()
    assert top and top[0]["vec_id"] == 100  # identical vector same bucket


def test_embedding_near_duplicates(spark):
    e = _emb(spark)
    pairs = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in embedding_near_duplicates(
            e, threshold=0.999, bits_per_band=8, bands=4
        ).collect()
    }
    assert (0, 100) in pairs and pairs[(0, 100)] >= 0.999999


def test_embedding_near_duplicates_banded_recall(spark):
    """Band-OR recall at a REAL threshold: planted pairs at cosine ~0.95
    (theta ~18deg, where a single 10-bit bucket would recall only ~35%)
    must be found at >=90% by 8 bands x 8 bits. Deterministic seeded
    vectors -> the measured recall is stable across runs."""
    import numpy as np

    from validate_xml_rust_spark.operators.similarity import (
        embedding_near_duplicates as end,
    )

    rng = np.random.default_rng(11)
    dim = 32
    rows, planted = [], []
    for i in range(150):
        v = rng.standard_normal(dim)
        v /= np.linalg.norm(v)
        rows.append((i, [float(x) for x in v]))
        # plant a ~0.95-cosine partner for every 3rd vector
        if i % 3 == 0:
            noise = rng.standard_normal(dim)
            noise -= noise @ v * v
            noise /= np.linalg.norm(noise)
            w = 0.95 * v + np.sqrt(1 - 0.95**2) * noise
            rows.append((1000 + i, [float(x) for x in w]))
            planted.append((i, 1000 + i))
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    found = {
        (r["id_a"], r["id_b"])
        for r in end(e, threshold=0.93, bits_per_band=8, bands=8).collect()
    }
    recall = sum(1 for p in planted if p in found) / len(planted)
    assert recall >= 0.9, recall


def test_dedup_partitioning_invariance(spark):
    # LSH results must not depend on physical partitioning
    d = _docs(spark)
    p1 = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_duplicates(d.repartition(1), threshold=0.5).collect()
    }
    p8 = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_duplicates(d.repartition(8), threshold=0.5).collect()
    }
    assert p1 == p8


def test_minhash_recall_on_planted_corpus(spark):
    # controlled corpus: recall of planted exact/near dups, no false positives
    from validate_xml_rust_spark.sources.corpus import (
        expected_pairs,
        synthetic_documents,
    )

    n = 4000
    docs = synthetic_documents(spark, n, 8)
    exact, near = expected_pairs(n)
    found = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_duplicates(docs, threshold=0.6).collect()
    }
    assert len(found & exact) == len(exact)  # identical docs: recall 1.0
    assert len(found & near) / len(near) >= 0.95
    assert len(found - exact - near) == 0  # verify step kills false positives


def test_ivf_topk_recall(spark):
    # clustered synthetic vectors: IVF with nprobe=2 must recall the
    # brute-force top-3 when the query sits inside one cluster
    import math

    from validate_xml_rust_spark.operators.similarity import (
        ivf_assign,
        ivf_topk,
        ivf_train,
    )

    rows = []
    vid = 0
    for c in range(4):  # 4 well-separated clusters
        center = [10.0 * (c + 1) * math.sin(c + d) for d in range(8)]
        for j in range(50):
            rows.append((vid, [x + 0.01 * ((vid * 7 + d) % 5) for d, x in enumerate(center)]))
            vid += 1
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = ivf_train(e, n_centroids=4, n_iters=4)
    assert cents.shape == (4, 8)
    # assignments are balanced-ish across the 4 planted clusters
    sizes = sorted(
        r["n"] for r in ivf_assign(e, cents).groupBy("cluster_id").count()
        .withColumnRenamed("count", "n").collect()
    )
    assert len(sizes) == 4 and min(sizes) >= 25

    q = [float(x) for x in e.filter("vec_id = 10").collect()[0]["embedding"]]
    from validate_xml_rust_spark.operators.similarity import brute_force_topk

    brute = [r["vec_id"] for r in brute_force_topk(e, q, k=3, exclude_id=10).collect()]
    ivf = [r["vec_id"] for r in ivf_topk(e, cents, q, k=3, nprobe=2, exclude_id=10).collect()]
    assert ivf == brute  # query's own cluster probed → exact agreement


def test_connected_components_transitivity(spark):
    from validate_xml_rust_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 7)], "id_a long, id_b long"
    )
    comp = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 7: 7, 8: 7}


def test_near_dedup_end_to_end(spark):
    from validate_xml_rust_spark.operators.dedup import near_dedup
    from validate_xml_rust_spark.sources.corpus import (
        expected_pairs,
        synthetic_documents,
    )

    n = 2000
    docs = synthetic_documents(spark, n, 8)
    exact, near = expected_pairs(n)
    kept = near_dedup(docs, threshold=0.6)
    kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    # every EXACT pair loses its higher id (identical sigs: recall 1.0)
    for a, b in exact:
        assert b not in kept_ids, (a, b)
    # near pairs: LSH recall >= 95% (measured 99.6%)
    removed_near = sum(1 for a, b in near if b not in kept_ids)
    assert removed_near / len(near) >= 0.95
    # untouched docs all survive
    paired = {x for p in exact | near for x in p}
    assert all(i in kept_ids for i in range(n) if i not in paired)


def test_connected_components_iteration_hygiene(spark, monkeypatch):
    """Chain graph forces many label-propagation rounds: the plan stays
    bounded (localCheckpoint truncates lineage) and superseded per-round
    caches are released (no O(iterations) executor-cache leak). The edge
    gate is 0 so the distributed rounds run (30 edges would otherwise take
    the driver union-find)."""
    from validate_xml_rust_spark.operators.dedup import connected_components

    monkeypatch.setenv("VXRS_CC_DRIVER_MAX_EDGES", "0")

    before = len(spark.sparkContext._jsc.getPersistentRDDs())
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a long, id_b long"
    )
    labels = connected_components(chain, max_iterations=40)
    comp = {r["id"]: r["component"] for r in labels.collect()}
    assert comp == {i: 0 for i in range(31)}
    # lineage truncated: the returned frame IS a checkpointed RDD scan —
    # constant-size plan, not an iteration-deep join tower
    plan = labels._jdf.queryExecution().toString()
    assert "ExistingRDD" in plan
    assert len(plan.splitlines()) < 60, len(plan.splitlines())
    # at most the final labels frame (+ its checkpoint block) outlives the
    # call — superseded rounds were unpersisted
    after = len(spark.sparkContext._jsc.getPersistentRDDs())
    assert after - before <= 2, (before, after)


def test_lsh_signature_arrow_matches_expression(spark):
    """Arrow matmul form vs literal-expression fold form: bit equality.
    (fp summation order differs between numpy matmul and the fold, but a
    sign flip needs |dot| at ulp scale — never with this seeded data)"""
    import numpy as np

    from validate_xml_rust_spark.operators.similarity import (
        lsh_signature,
        lsh_signature_expr,
        lsh_signature_np,
    )

    rng = np.random.default_rng(5)
    dim = 16
    data = [(i, [float(x) for x in rng.standard_normal(dim)]) for i in range(200)]
    df = spark.createDataFrame(data, "vec_id long, embedding array<double>")
    both = df.select(
        lsh_signature(F.col("embedding"), 12).alias("a"),
        lsh_signature_expr(F.col("embedding"), dim, 12).alias("b"),
        "embedding",
    ).collect()
    assert all(r["a"] == r["b"] for r in both)
    # driver-side query signature matches the executor path bit-for-bit
    assert both[0]["a"] == lsh_signature_np(both[0]["embedding"], 12)


def test_ivf_built_index_partition_pruned(spark, tmp_path):
    """ivf_build persists cluster_id-partitioned parquet; probing reads
    only the nprobe cluster directories (PartitionFilters) and returns the
    same results as the recompute-per-query path."""
    import math

    from validate_xml_rust_spark.operators.similarity import (
        ivf_build,
        ivf_topk,
        ivf_topk_indexed,
        ivf_train,
    )

    rows = []
    vid = 0
    for c in range(4):
        center = [10.0 * (c + 1) * math.sin(c + d) for d in range(8)]
        for j in range(40):
            rows.append((vid, [x + 0.01 * ((vid * 3 + d) % 7) for d, x in enumerate(center)]))
            vid += 1
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = ivf_train(e, n_centroids=4, n_iters=4)
    idx_dir = str(tmp_path / "ivf")
    ivf_build(e, cents, idx_dir)

    q = [float(x) for x in e.filter("vec_id = 10").collect()[0]["embedding"]]
    direct = [(r["vec_id"], r["cos_sim"]) for r in
              ivf_topk(e, cents, q, k=5, nprobe=2, exclude_id=10).collect()]
    indexed_df = ivf_topk_indexed(spark, idx_dir, cents, q, k=5, nprobe=2, exclude_id=10)
    indexed = [(r["vec_id"], r["cos_sim"]) for r in indexed_df.collect()]
    assert indexed == direct

    plan = indexed_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cluster_id" in plan.split("PartitionFilters")[1][:200]


def test_connected_components_log_rounds_on_chain(spark, monkeypatch):
    """Pointer jumping: a 200-node chain converges in O(log n) rounds
    (~2·log2(200) ≈ 16 with the +1 convergence round), far under the 200
    that pure min-label propagation would need. Edge gate 0: the
    distributed rounds, not the driver union-find (which reports 1)."""
    from validate_xml_rust_spark.operators.dedup import connected_components

    monkeypatch.setenv("VXRS_CC_DRIVER_MAX_EDGES", "0")

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "id_a long, id_b long"
    )
    stats = {}
    labels = connected_components(chain, max_iterations=30, stats=stats)
    comp = {r["id"]: r["component"] for r in labels.collect()}
    assert comp == {i: 0 for i in range(201)}
    assert 1 < stats["iterations"] <= 18, stats


def test_connected_components_gate_equivalence(spark, monkeypatch):
    """Both sides of the ``$VXRS_CC_DRIVER_MAX_EDGES`` gate give the same
    (id, component) rows and schema: long ids and string ids (non-ASCII
    and astral code points — Python and Spark must order them alike),
    duplicated and reversed pairs, self-loops, an empty pair table, and
    gates exactly at and one under the doubled distinct edge count."""
    from validate_xml_rust_spark.operators.dedup import connected_components

    long_pairs = [(5, 9), (9, 5), (5, 9), (9, 12), (40, 41), (41, 41), (7, 3),
                  (3, 2), (100, 2), (2**40, 3), (-4, 100)]
    str_pairs = [("b", "a"), ("a", "b"), ("é", "z"), ("z", "Z"), ("😀", "é"),
                 ("q", "q"), ("m", "n"), ("n", "m"), ("n", "m")]
    cases = [
        (spark.createDataFrame(rows, f"id_a {t}, id_b {t}"),
         len(set(rows) | {(b, a) for a, b in rows}))  # doubled distinct edges
        for rows, t in [(long_pairs, "long"), (str_pairs, "string"),
                        ([], "long"), ([], "string")]
    ]

    def run(pairs, gate):
        monkeypatch.setenv("VXRS_CC_DRIVER_MAX_EDGES", str(gate))
        stats: dict = {}
        out = connected_components(pairs, stats=stats)
        return out.schema, sorted(tuple(r) for r in out.collect()), stats

    for pairs, n_edges in cases:
        dist = run(pairs, 0)
        for gate in (n_edges, 1 << 19):
            driver = run(pairs, gate)
            assert driver[2]["iterations"] == 1, (gate, driver[2])
            assert driver[:2] == dist[:2], (gate, driver, dist)
        if n_edges:
            assert dist[2]["iterations"] > 1, dist[2]
            below = run(pairs, n_edges - 1)  # one edge over: distributed
            assert below[2]["iterations"] > 1 and below[:2] == dist[:2]
    labels = dict(run(cases[1][0], 1 << 19)[1])
    assert labels["z"] == labels["😀"] == "Z" and labels["b"] == "a"
    assert labels["q"] == "q" and labels["n"] == "m"


def test_winnowing_guarantee_and_candidates(spark):
    """Winnowing properties: (1) identical docs → identical fingerprint
    sets; (2) the detection GUARANTEE — any shared token run of length
    ≥ window+k-1 yields ≥1 shared fingerprint, even when the run is a
    tiny fraction of the containing doc; (3) unrelated docs share nothing;
    (4) the candidate join surfaces exactly the overlapping pairs."""
    from validate_xml_rust_spark.operators.dedup import (
        winnow_candidate_pairs,
        winnow_fingerprints,
    )

    k, w = 3, 4
    shared_run = "alpha beta gamma delta epsilon zeta"  # 6 tokens = w+k-1
    a = "one two three " + shared_run + " four five six"
    b = ("completely different prefix words here " + shared_run
         + " and an unrelated long suffix tail of many extra words "
           "stretching onward for quite a while longer")
    c = "nothing in common with either document at all whatsoever today"
    docs = spark.createDataFrame(
        [(0, a), (1, a), (2, b), (3, c)], "doc_id long, text string"
    )
    fps = {r["id"]: set(r["fingerprints"]) for r in
           winnow_fingerprints(docs, shingle_k=k, window=w).collect()}
    assert fps[0] == fps[1] and len(fps[0]) > 0          # identical docs
    assert fps[0] & fps[2], "guarantee: shared 6-token run must collide"
    assert not (fps[0] & fps[3]) and not (fps[2] & fps[3])
    # density sanity: ~2/(w+1) of k-grams survive (loose bounds)
    n_grams = len(a.split()) - k + 1
    assert 1 <= len(fps[0]) <= n_grams

    pairs = {(r["id_a"], r["id_b"]) for r in
             winnow_candidate_pairs(docs, shingle_k=k, window=w).collect()}
    assert pairs == {(0, 1), (0, 2), (1, 2)}


def test_minhash_eager_releases_caches(spark):
    """minhash_near_duplicates materializes the pair result and releases
    its shingle/signature and candidate checkpoints — no corpus-sized
    blocks strand in a long-lived session (only the checkpointed result
    survives)."""
    from validate_xml_rust_spark.operators.dedup import minhash_near_duplicates

    sc = spark.sparkContext

    def pids():
        return set(sc._jsc.getPersistentRDDs().keySet().toArray())

    # set-difference of RDD ids, not counts: the async ContextCleaner can
    # reap OTHER tests' leftovers between reads, but ids WE create are
    # referenced and stay until released
    d = _docs(spark)
    before = pids()
    pairs = minhash_near_duplicates(d, threshold=0.5)
    assert {(r["id_a"], r["id_b"]) for r in pairs.collect()} == {(0, 1), (0, 2), (1, 2)}
    assert len(pids() - before) <= 1  # only the checkpointed result itself


# ---------------------------------------------------------------------------
# Substring-level passage excision (dedup.excise_shared_passages)
# ---------------------------------------------------------------------------


def _py_excise(rows, min_run=8, keep_first=True):
    """Independent pure-Python reference of the excision semantics:
    tokenize → positional n-gram TUPLES (no hashing) → min-doc keeper →
    covered positions → rebuild. Used to cross-check the Spark operator
    on arbitrary corpora."""
    import re

    toks = {
        i: [w for w in re.split(r"[^a-z0-9]+", (t or "").lower().strip()) if w]
        for i, t in rows
    }
    occs = {}  # gram tuple -> list[(doc, pos)]
    for i, ws in toks.items():
        for p in range(len(ws) - min_run + 1):
            occs.setdefault(tuple(ws[p : p + min_run]), []).append((i, p))
    cov = {i: set() for i in toks}
    for gram, sites in occs.items():
        docs = {d for d, _ in sites}
        if len(docs) < 2:
            continue
        keeper = min(docs)
        for d, p in sites:
            if keep_first and d == keeper:
                continue
            cov[d].update(range(p, p + min_run))
    raw = dict(rows)
    out = {}
    for i, ws in toks.items():
        c = sorted(x for x in cov[i] if 0 <= x < len(ws))
        if not c:
            # untouched docs pass through byte-identical (NULLs included)
            out[i] = (raw[i], 0, 0, len(ws))
            continue
        clean = " ".join(w for j, w in enumerate(ws) if j not in cov[i])
        n_spans = sum(
            1 for k, x in enumerate(c) if k == 0 or c[k - 1] != x - 1
        )
        out[i] = (clean, len(c), n_spans, len(ws) - len(c))
    return out


def test_excise_planted_schedule(spark):
    """The planted passage corpus: min-id docs keep their passage copy,
    later docs lose exactly the passage; adjacent spans merge to ONE;
    end-of-document passages excise cleanly; passage-free docs are
    untouched (modulo token normalization)."""
    from validate_xml_rust_spark.operators.dedup import excise_shared_passages
    from validate_xml_rust_spark.sources.corpus import passage_corpus

    docs = passage_corpus(spark, 80, 8)
    got = {r["doc_id"]: r for r in excise_shared_passages(docs).collect()}
    assert (got[0]["n_tokens_removed"], got[0]["n_spans"]) == (0, 0)
    assert got[0]["n_tokens_kept"] == 60
    assert (got[5]["n_tokens_removed"], got[17]["n_tokens_removed"]) == (0, 12)
    assert got[17]["n_spans"] == 1 and got[17]["n_tokens_kept"] == 48
    # two adjacent planted passages in %4==2 docs merge to one span
    assert (got[6]["n_tokens_removed"], got[6]["n_spans"]) == (24, 1)
    assert (got[2]["n_tokens_removed"], got[2]["n_spans"]) == (0, 0)
    # end-of-document passage (id 15 shares P6 with keeper id 3)
    assert (got[3]["n_tokens_removed"], got[15]["n_tokens_removed"]) == (0, 12)
    assert not got[15]["clean_text"].endswith("x11")


def test_excise_matches_python_reference_and_property(spark):
    """Random corpora (seeded, small vocab so shared runs arise
    organically): the operator must equal the independent pure-Python
    reference exactly, the winnow prefilter must be lossless, and no
    shared >= min_run token run may survive between any kept pair."""
    import random

    from validate_xml_rust_spark.operators.dedup import excise_shared_passages

    for seed in (7, 23):
        rng = random.Random(seed)
        rows = []
        for i in range(36):
            n = rng.randint(0, 40)
            words = [f"v{rng.randint(0, 30)}" for _ in range(n)]
            rows.append((i, " ".join(words)))
        rows.append((36, None))
        rows.append((37, ""))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        ref = _py_excise(rows)
        got = {
            r["doc_id"]: (
                r["clean_text"], r["n_tokens_removed"], r["n_spans"],
                r["n_tokens_kept"],
            )
            for r in excise_shared_passages(df).collect()
        }
        assert got == ref, f"seed {seed}"
        exact = {
            r["doc_id"]: (
                r["clean_text"], r["n_tokens_removed"], r["n_spans"],
                r["n_tokens_kept"],
            )
            for r in excise_shared_passages(df, prefilter=False).collect()
        }
        assert exact == got, f"prefilter lossy at seed {seed}"
        # the headline guarantee (untouched docs keep raw text — the
        # random corpus is already token-form, so plain split is exact)
        texts = {i: (got[i][0] or "").split() for i in got}
        for a in texts:
            for b in texts:
                if a >= b:
                    continue
                ga = {
                    tuple(texts[a][p : p + 8])
                    for p in range(len(texts[a]) - 7)
                }
                gb = {
                    tuple(texts[b][p : p + 8])
                    for p in range(len(texts[b]) - 7)
                }
                assert not (ga & gb), (seed, a, b)


def test_excise_keep_first_false_removes_all_copies(spark):
    from validate_xml_rust_spark.operators.dedup import excise_shared_passages

    shared = " ".join(f"s{i}" for i in range(10))
    rows = [
        (0, f"a0 a1 a2 {shared} a3 a4"),
        (1, f"b0 b1 {shared} b2 b3 b4"),
        (2, "c0 c1 c2 c3 c4 c5 c6 c7 c8 c9"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in excise_shared_passages(df, keep_first=False).collect()
    }
    assert got[0]["n_tokens_removed"] == 10  # keeper loses its copy too
    assert got[1]["n_tokens_removed"] == 10
    assert got[2]["n_tokens_removed"] == 0
    assert "s0" not in got[0]["clean_text"]


def test_excise_short_and_exact_length_docs(spark):
    """Docs shorter than min_run have no complete gram (never excised,
    never falsely matched); docs of EXACTLY min_run duplicated tokens
    excise end-to-end in the non-keeper."""
    from validate_xml_rust_spark.operators.dedup import excise_shared_passages

    run = " ".join(f"t{i}" for i in range(8))
    rows = [(0, "x0 x1 x2"), (1, "x0 x1 x2"), (2, run), (3, run)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r for r in excise_shared_passages(df, min_run=8).collect()
    }
    assert got[0]["n_tokens_removed"] == 0 and got[1]["n_tokens_removed"] == 0
    assert got[2]["n_tokens_removed"] == 0  # keeper
    assert got[3]["n_tokens_removed"] == 8 and got[3]["clean_text"] == ""
    assert got[3]["n_tokens_kept"] == 0 and got[3]["n_spans"] == 1


def test_exact_dedup_null_id_rows(spark):
    """NULL-id rows: dropped when an identified keeper holds the same
    content; kept (all of them) when the content group has no identified
    row — unique identity-less content must never silently vanish
    (pre-r5, id == min(id) evaluated NULL and dropped it)."""
    rows = [
        (0, "same content here"),
        (None, "same content here"),     # identified keeper exists → drop
        (None, "only null ids have this"),  # unique → must survive
        (None, "twin nulls"), (None, "twin nulls"),  # no keeper → keep both
        (None, None),                    # null text → survives (no fp)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = exact_dedup(df).collect()
    texts = {(r["doc_id"], r["text"]) for r in out}
    assert (0, "same content here") in texts
    assert (None, "only null ids have this") in texts
    assert sum(1 for r in out if r["text"] == "twin nulls") == 2
    assert sum(1 for r in out if r["text"] is None) == 1
    assert sum(1 for r in out if r["text"] == "same content here") == 1


def test_semantic_dedup_planted_vectors(spark):
    """SemDeDup over the planted vectors: the kept set is the complement
    of the audit drop set, keepers are always the min id of their
    semantic group (no dropped vector can be a witness), and a
    max_cluster cap below every cluster size keeps everything
    (conservative degenerate-cluster stance)."""
    from validate_xml_rust_spark.operators.similarity import semantic_dedup

    emb = spark.read.parquet("fixtures/planted_vectors.parquet")
    n = emb.count()
    drops = semantic_dedup(
        emb, threshold=0.9, n_centroids=12, n_iters=3, drops_only=True
    ).collect()
    kept = semantic_dedup(emb, threshold=0.9, n_centroids=12, n_iters=3)
    kept_ids = {r["vec_id"] for r in kept.select("vec_id").collect()}
    dropped_ids = {r["vec_id"] for r in drops}
    assert len(drops) > 0
    assert kept_ids.isdisjoint(dropped_ids)
    assert len(kept_ids) + len(dropped_ids) == n
    all_ids = {r["vec_id"] for r in emb.select("vec_id").collect()}
    for r in drops:
        assert r["witness_id"] < r["vec_id"]
        # the witness is a corpus member but NOT necessarily kept:
        # cosine is not transitive, so a chain a~b~c with a!~c drops b
        # (witness a) and c (witness b, itself dropped)
        assert r["witness_id"] in all_ids
        assert r["cos_sim"] >= 0.9
    # cap smaller than any cluster → pruning disabled, everything kept
    capped = semantic_dedup(
        emb, threshold=0.9, n_centroids=12, n_iters=3, max_cluster=1
    )
    assert capped.count() == n


def test_semantic_dedup_zero_norm_and_null_vectors(spark):
    """Zero-norm vectors have cosine 0 to everything (the expression
    convention) so they are never dropped and never witness; NULL
    embeddings pass through the kept side untouched."""
    from validate_xml_rust_spark.operators.similarity import semantic_dedup

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [1.0, 1e-7, 0.0]),   # ~identical to 0 → dropped
        (2, [0.0, 0.0, 0.0]),    # zero norm → kept
        (3, [0.0, 0.0, 0.0]),    # zero norm twin → also kept
        (4, None),               # NULL → kept (never clustered)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kept = semantic_dedup(df, threshold=0.95, n_centroids=2, n_iters=1)
    assert {r["vec_id"] for r in kept.collect()} == {0, 2, 3, 4}


def test_semantic_dedup_null_and_uncastable_ids_survive(spark):
    """NULL ids (and ids that cast to NULL) never enter the prune and
    never crash the UDF — they pass through the kept side."""
    from validate_xml_rust_spark.operators.similarity import semantic_dedup

    rows = [
        (None, [1.0, 0.0, 0.0]),
        (None, [1.0, 1e-7, 0.0]),
        (5, [0.0, 1.0, 0.0]),
        (6, [0.0, 1.0, 1e-7]),  # ~identical to 5 → dropped
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kept = semantic_dedup(df, threshold=0.95, n_centroids=1, n_iters=1)
    got = [(r["vec_id"]) for r in kept.collect()]
    assert sorted(x for x in got if x is not None) == [5]
    assert got.count(None) == 2


def test_dedup_weights_soft_groups(spark):
    from validate_xml_rust_spark.operators.dedup import dedup_weights

    docs = spark.createDataFrame(
        [
            (0, "same  text here"),      # normalizes equal to 1
            (1, "same text here"),
            (2, "unique content one"),
            (3, None),                   # NULL text: never a duplicate
            (4, None),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in dedup_weights(docs).collect()}
    assert got[0]["n_copies"] == 2 and got[0]["weight"] == 0.5
    assert got[1]["fp"] == got[0]["fp"]
    assert got[2]["n_copies"] == 1 and got[2]["weight"] == 1.0
    for i in (3, 4):
        assert got[i]["n_copies"] == 1 and got[i]["weight"] == 1.0
        assert got[i]["fp"] is None


def test_diversity_sample_caps_dense_clusters(spark):
    import numpy as np

    from validate_xml_rust_spark.operators.similarity import diversity_sample

    # two well-separated clusters: 60 vectors near (0,0), 5 near (10,10)
    rows = [
        (i, [0.0 + (i % 7) * 0.01, 0.0 + (i % 5) * 0.01]) for i in range(60)
    ] + [(100 + i, [10.0 + i * 0.01, 10.0]) for i in range(5)] + [(200, None)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = np.array([[0.0, 0.0], [10.0, 10.0]])
    got = diversity_sample(emb, 10, centroids=cents).collect()
    by_cluster: dict = {}
    for r in got:
        by_cluster.setdefault(r["cluster_id"], []).append(r["vec_id"])
    # sparse cluster keeps everything (rate 1); dense cluster is capped
    # near the target (rate-based, not an exact quota)
    assert sorted(by_cluster[1]) == [100, 101, 102, 103, 104]
    assert 3 <= len(by_cluster[0]) <= 20
    assert all(v < 60 for v in by_cluster[0])
    # NULL vector rows are excluded
    assert 200 not in {r["vec_id"] for r in got}
    # deterministic across repartitioning
    again = {
        r["vec_id"]
        for r in diversity_sample(
            emb.repartition(7), 10, centroids=cents
        ).collect()
    }
    assert again == {r["vec_id"] for r in got}


def test_diversity_sample_count_sample_path(spark):
    import numpy as np

    from validate_xml_rust_spark.operators.similarity import diversity_sample

    rows = [(i, [float(i % 3), 0.0]) for i in range(90)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = np.array([[0.0, 0.0], [1.0, 0.0], [2.0, 0.0]])
    exact = diversity_sample(emb, 10, centroids=cents)
    est = diversity_sample(emb, 10, centroids=cents, count_sample_rate=0.5)
    # estimated counts change thresholds but never drop a cluster, and
    # both paths stay deterministic
    assert est.select("cluster_id").distinct().count() == 3
    assert {r["vec_id"] for r in est.collect()} == {
        r["vec_id"]
        for r in diversity_sample(
            emb, 10, centroids=cents, count_sample_rate=0.5
        ).collect()
    }
    assert exact.count() > 0 and est.count() > 0


def test_near_dedup_quality_keeper(spark):
    from validate_xml_rust_spark.operators.dedup import near_dedup

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    rows = [
        (0, base, 1.0),                      # near-dup group, min id
        (1, base + " extended with tail", 5.0),  # highest score → keeper
        (2, base + " extended other", 3.0),
        (9, "totally different content about ships and sails", 0.1),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, q double")
    # default policy keeps min id
    kept_min = {
        r["doc_id"]
        for r in near_dedup(docs, threshold=0.5, num_perm=64).collect()
    }
    assert kept_min == {0, 9}
    # quality policy keeps the highest-score member instead
    kept_q = {
        r["doc_id"]
        for r in near_dedup(
            docs, threshold=0.5, num_perm=64, keeper_score_col="q"
        ).collect()
    }
    assert kept_q == {1, 9}


def test_quality_keepers_null_scores(spark):
    from validate_xml_rust_spark.operators.dedup import quality_keepers

    comp = spark.createDataFrame(
        [(0, 0), (1, 0), (7, 7), (8, 7)], "id long, component long"
    )
    # component 0: all scores NULL → min-id keeper; component 7: NULL
    # loses to any real score
    scored = spark.createDataFrame(
        [(0, None), (1, None), (7, None), (8, 1.5)],
        "doc_id long, quality double",
    )
    got = {r["id"]: r["keeper"] for r in quality_keepers(comp, scored).collect()}
    assert got == {0: 0, 1: 0, 7: 8, 8: 8}


def test_leakage_safe_split_no_straddle(spark):
    from validate_xml_rust_spark.operators.dedup import (
        leakage_safe_split,
        minhash_near_duplicates,
    )
    from validate_xml_rust_spark.sources.corpus import synthetic_documents

    docs = synthetic_documents(spark, 400, n_partitions=8)
    out = leakage_safe_split(
        docs, {"train": 0.7, "val": 0.15, "test": 0.15}, threshold=0.6
    )
    rows = out.select("doc_id", "split").collect()
    assert len(rows) == 400
    split_of = {r["doc_id"]: r["split"] for r in rows}
    assert set(split_of.values()) <= {"train", "val", "test"}
    # the core property: no near-dup pair straddles two splits
    pairs = minhash_near_duplicates(docs, threshold=0.6).collect()
    assert len(pairs) > 0  # the planted corpus has near-dups
    for p in pairs:
        assert split_of[p["id_a"]] == split_of[p["id_b"]], p
    # deterministic across runs and partitioning
    again = {
        r["doc_id"]: r["split"]
        for r in leakage_safe_split(
            docs.repartition(3), {"train": 0.7, "val": 0.15, "test": 0.15},
            threshold=0.6,
        ).select("doc_id", "split").collect()
    }
    assert again == split_of
    # rough proportions
    n_train = sum(1 for v in split_of.values() if v == "train")
    assert 0.55 < n_train / 400 < 0.85


# ---------------------------------------------------------------------------
# SignatureStore + incremental_near_dedup (batch near-dedup across ingests)
# ---------------------------------------------------------------------------


def _words(prefix, lo, hi):
    return [f"{prefix}{i}" for i in range(lo, hi)]


def test_incremental_near_dedup_store_taint(spark, tmp_path):
    """Cross-generation store match + component-level taint propagation:
    X committed in gen 1; Y (near-dup of X) AND Z (near-dup of Y but NOT
    of X) both drop from gen 2 — Z only via its component with Y. The
    planted similarity triangle is asserted numerically first, so the
    test can't silently stop testing the interesting case."""
    from validate_xml_rust_spark.functions.texthash import jaccard, shingle_hashes
    from validate_xml_rust_spark.operators.dedup import (
        SignatureStore,
        incremental_near_dedup,
    )

    a = _words("a", 0, 60)
    x = " ".join(a)
    y = " ".join(a[:50] + _words("b", 0, 10))          # tail swapped
    z = " ".join(_words("c", 0, 10) + a[10:50] + _words("b", 0, 10))

    trio = spark.createDataFrame(
        [(0, x), (1, y), (2, z)], "doc_id long, text string"
    )
    sh = {
        r["doc_id"]: r["s"]
        for r in trio.select(
            "doc_id", shingle_hashes(F.col("text"), 3).alias("s")
        ).collect()
    }
    j = lambda p, q: len(set(sh[p]) & set(sh[q])) / len(set(sh[p]) | set(sh[q]))
    assert j(0, 1) >= 0.6 and j(1, 2) >= 0.6 and j(0, 2) < 0.6

    store = SignatureStore(spark, str(tmp_path / "store"))
    st0, st1 = {}, {}
    s0 = incremental_near_dedup(
        spark.createDataFrame([(0, x), (5, "unrelated spark text entirely")],
                              "doc_id long, text string"),
        store, threshold=0.6, stats=st0,
    )
    assert {r["doc_id"] for r in s0.collect()} == {0, 5}
    assert st0["generation"] == 1 and st0["n_store_matches"] == 0

    gen_b = spark.createDataFrame(
        [(10, y), (11, z), (12, "another fresh unrelated document here")],
        "doc_id long, text string",
    )
    s1 = incremental_near_dedup(gen_b, store, threshold=0.6, stats=st1)
    kept = {r["doc_id"] for r in s1.collect()}
    # 10 tainted by store X; 11 dropped ONLY via its component with 10
    assert kept == {12}
    assert st1["n_store_matches"] == 1 and st1["n_dropped"] == 2
    assert st1["generation"] == 2
    # the store accumulated only survivors
    gens = store.generations()
    assert [(g, n) for g, _, n in gens] == [(1, 2), (2, 1)]

    # CONTRAST: a fresh store ingesting gen B alone keeps the component's
    # min-id member (within-slice near_dedup semantics, no taint)
    fresh = SignatureStore(spark, str(tmp_path / "fresh"))
    alone = incremental_near_dedup(gen_b, fresh, threshold=0.6, commit=False)
    assert {r["doc_id"] for r in alone.collect()} == {10, 12}


def test_incremental_near_dedup_matches_global_on_ordered_split(spark):
    """When every planted pair is generation-local (the synthetic corpus
    pairs adjacent ids; the split boundary has no pair), the two-run
    incremental result equals ONE global near_dedup over the union — the
    keep-first and keep-min-id policies coincide."""
    import tempfile

    from validate_xml_rust_spark.operators.dedup import (
        SignatureStore,
        incremental_near_dedup,
        near_dedup,
    )
    from validate_xml_rust_spark.sources.corpus import synthetic_documents

    docs = synthetic_documents(spark, 200, n_partitions=4)
    store = SignatureStore(spark, tempfile.mkdtemp(prefix="vxrs_t_store_"))
    s0 = incremental_near_dedup(
        docs.filter(F.col("doc_id") < 100), store, threshold=0.6
    )
    s1 = incremental_near_dedup(
        docs.filter(F.col("doc_id") >= 100), store, threshold=0.6
    )
    inc = {r["doc_id"] for r in s0.collect()} | {r["doc_id"] for r in s1.collect()}
    glob = {r["doc_id"] for r in near_dedup(docs, threshold=0.6).collect()}
    assert inc == glob


def test_signature_store_contracts(spark, tmp_path):
    """Parameter pinning, shingle-less stores, verify-mode gating, and
    NULL-text rows."""
    import pytest

    from validate_xml_rust_spark.operators.dedup import (
        SignatureStore,
        incremental_near_dedup,
    )

    root = str(tmp_path / "pins")
    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta"), (1, None)],
        "doc_id long, text string",
    )
    store = SignatureStore(spark, root, num_perm=32, bands=8)
    out = incremental_near_dedup(docs, store, threshold=0.6)
    # NULL text: empty shingles → Jaccard 0 → never a duplicate; survives
    assert {r["doc_id"] for r in out.collect()} == {0, 1}

    # reopening with a different hash family refuses to read
    with pytest.raises(ValueError, match="not comparable"):
        SignatureStore(spark, root, num_perm=32, bands=16).generations()
    # bands must divide num_perm
    with pytest.raises(ValueError, match="divide"):
        SignatureStore(spark, root, num_perm=32, bands=5)

    # shingle-less store: exact verify refused, estimate verify works
    lean = SignatureStore(
        spark, str(tmp_path / "lean"), store_shingles=False
    )
    d0 = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    incremental_near_dedup(d0, lean, threshold=0.6, verify="estimate")
    d1 = spark.createDataFrame(
        [(9, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    with pytest.raises(ValueError, match="store_shingles=False"):
        incremental_near_dedup(d1, lean, threshold=0.6, verify="exact")
    got = incremental_near_dedup(
        d1, lean, threshold=0.6, verify="estimate", commit=False
    )
    # identical text → identical signature → agreement 1.0 → dropped
    assert got.count() == 0


def test_signature_store_compact(spark, tmp_path):
    """compact() rewrites the generation chain as ONE generation whose
    contents behave identically: a third slice dedups to the same
    survivors against the compacted store as against the chain."""
    from validate_xml_rust_spark.operators.dedup import (
        SignatureStore,
        incremental_near_dedup,
    )
    from validate_xml_rust_spark.sources.corpus import synthetic_documents

    docs = synthetic_documents(spark, 300, n_partitions=4)
    a = docs.filter(F.col("doc_id") % 3 == 0)
    b = docs.filter(F.col("doc_id") % 3 == 1)
    c = docs.filter(F.col("doc_id") % 3 == 2)

    chain = SignatureStore(spark, str(tmp_path / "chain"))
    incremental_near_dedup(a, chain, threshold=0.6)
    incremental_near_dedup(b, chain, threshold=0.6)
    want = {
        r["doc_id"]
        for r in incremental_near_dedup(
            c, chain, threshold=0.6, commit=False
        ).collect()
    }

    packed = SignatureStore(spark, str(tmp_path / "packed"))
    incremental_near_dedup(a, packed, threshold=0.6)
    incremental_near_dedup(b, packed, threshold=0.6)
    n_before = sum(n for _, _, n in packed.generations())
    gen = packed.compact()
    gens = packed.generations()
    assert [g for g, _, _ in gens] == [gen]          # one catalog row
    assert gens[0][2] == n_before                     # nothing lost
    got = {
        r["doc_id"]
        for r in incremental_near_dedup(
            c, packed, threshold=0.6, commit=False
        ).collect()
    }
    assert got == want
    # compacting a single-generation store is a no-op
    assert packed.compact() == gen


def test_semantic_decontaminate_paths_agree(spark):
    """Cross-corpus semantic decontamination: the banded-LSH broadcast
    path finds exactly the brute-force cross pairs on the planted
    vectors (recall 1.0 at 16x4 bits / cos 0.9 — the embedding_neardup
    fixture argument, cross-corpus), and the drop policy composes as a
    left_anti."""
    from validate_xml_rust_spark.operators.similarity import (
        semantic_decontaminate,
    )

    emb = spark.read.parquet("fixtures/planted_vectors.parquet")
    corpus = emb.filter(F.col("vec_id") % 5 != 0)
    bench = emb.filter(F.col("vec_id") % 5 == 0)
    kw = dict(threshold=0.9, bits_per_band=4, bands=16)
    lsh = {
        (r["id"], r["bench_id"], r["cos_sim"])
        for r in semantic_decontaminate(corpus, bench, **kw).collect()
    }
    exact = {
        (r["id"], r["bench_id"], r["cos_sim"])
        for r in semantic_decontaminate(
            corpus, bench, exact=True, **kw
        ).collect()
    }
    assert lsh == exact and len(lsh) > 0
    flagged = {i for i, _, _ in lsh}
    kept = corpus.join(
        semantic_decontaminate(corpus, bench, **kw)
        .select(F.col("id").alias("vec_id")).distinct(),
        "vec_id", "left_anti",
    )
    assert {r["vec_id"] for r in kept.collect()} == (
        {r["vec_id"] for r in corpus.collect()} - flagged
    )


def test_curate_semantic_decontaminate_step(spark):
    """curate(semantic_benchmark=...) drops docs whose embedding is a
    near-copy of a benchmark vector; clean docs pass."""
    from validate_xml_rust_spark.pipeline import curate

    docs = spark.createDataFrame(
        [
            (1, "close to bench", [1.0, 0.0, 0.0, 0.01]),
            (2, "far from bench", [0.0, 1.0, 0.0, 0.0]),
            (3, "also far", [0.0, 0.0, 1.0, 0.0]),
        ],
        "doc_id long, text string, embedding array<float>",
    )
    bench = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    res = curate(
        docs, spark, near_dup_threshold=None,
        semantic_benchmark=bench, semantic_decontam_threshold=0.95,
    )
    assert {r["doc_id"] for r in res.kept.collect()} == {2, 3}
    entry = next(
        s for s in res.report["steps"] if s["step"] == "semantic_decontaminate"
    )
    assert entry["dropped"] == 1


def test_semantic_decontaminate_edges(spark):
    """Empty benchmark → zero matches; NULL corpus embeddings never
    match (signature 0 may collide with a band bucket, but the cosine
    guard returns 0.0 for NULL/zero vectors, below any threshold)."""
    from validate_xml_rust_spark.operators.similarity import (
        semantic_decontaminate,
    )

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    empty_bench = corpus.filter(F.lit(False))
    assert semantic_decontaminate(corpus, empty_bench).count() == 0

    bench = spark.createDataFrame(
        [(9, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    got = semantic_decontaminate(
        corpus, bench, threshold=0.9, bits_per_band=4, bands=16
    ).collect()
    assert {(r["id"], r["bench_id"]) for r in got} == {(1, 9)}
