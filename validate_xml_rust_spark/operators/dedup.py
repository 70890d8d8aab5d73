"""Deduplication operators for large-scale training-data pipelines.

Five dedup families, all Spark-first:

- exact        — hash-groupBy on a content fingerprint (md5 of normalized
                 text); keep-first = min(id) per group
- minhash LSH  — shingle → MinHash signature → band → bucket self-join →
                 exact-Jaccard verify (the classic near-dup pipeline)
- simhash      — 64-bit SimHash + chunk-banding → Hamming-distance verify
- ngram_jaccard— exact Jaccard over shingle-hash sets for candidate pairs
- embedding    — cosine near-dup over an embedding column (see
                 operators/similarity.py for the kNN variants)

Scale notes (the part that matters at 10^12 docs):
- Signatures/fingerprints are pure expressions — the only shuffles are the
  bucket joins/groupBys, which key on *hashes* (uniform by construction, so
  no salting needed — hash keys don't skew like natural keys).
- Candidate generation joins docs on band keys; a pathological bucket (one
  band key shared by k docs) yields k² pairs. ``max_bucket`` caps bucket
  width defensively (drop buckets wider than the cap and surface them as a
  quality signal instead of letting one degenerate band melt a reducer).
- Verification is pairwise but only over candidates — a tiny fraction of
  the cross product (the entire point of LSH).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from validate_xml_rust_spark import genlog
from validate_xml_rust_spark.colcache import per_context
from validate_xml_rust_spark.functions.texthash import (
    hamming64,
    jaccard,
    lsh_band_keys,
    shingle_hashes,
    shingles_with_signature,
    simhash64,
)
from validate_xml_rust_spark.session import local_frame


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Content fingerprint: md5 of whitespace-normalized lowercased text."""
    return df.withColumn("fingerprint", _fingerprint_expr(text_col))


@per_context
def _fingerprint_expr(text_col: str) -> Column:
    return F.md5(F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " ")))


def exact_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact-dup groups: ``fingerprint, n_dup, keep_id`` (keep = min id).

    One shuffle keyed on the fingerprint hash — uniform, skew-free."""
    fp = fingerprint(df, text_col)
    return (
        fp.groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_dup"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_dup") > 1)
    )


def exact_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    fingerprint_col: str | None = None,
) -> DataFrame:
    """Keep one row per distinct content (the min-id row). Rows with NULL
    text (no fingerprint) are NOT duplicates of each other — they all
    survive (SQL UNIQUE semantics, same rule as uniqueness.py); an inner
    join back on the fingerprint would silently drop every one of them
    (NULL never equi-joins).

    NULL-id rows: a NULL-id duplicate of identified content is dropped
    (the identified keeper survives); a content group with NO identified
    row keeps ALL its rows — there is no deterministic way to pick one of
    several indistinguishable rows, and silently losing identity-less
    unique content is worse than keeping indistinct copies. (Before r5,
    ``id == min(id)`` evaluated NULL for these rows and dropped them
    even when their content was unique.)

    ``fingerprint_col`` names a PRECOMPUTED fingerprint column on ``df``
    (kept in the output — the caller owns it); when None, the md5
    normalization fingerprint is computed here and dropped. Callers that
    already paid the normalization pass (incremental_dedup) must not pay
    it twice — at corpus scale it is the dominant per-row CPU."""
    if fingerprint_col is None:
        fp, fcol, drop_cols = fingerprint(df, text_col), "fingerprint", ["fingerprint", "__keep"]
    else:
        fp, fcol, drop_cols = df, fingerprint_col, ["__keep"]
    has_fp, keeper, survive = _exact_dedup_columns(id_col, fcol)
    keep = fp.filter(has_fp).groupBy(fcol).agg(keeper)
    return fp.join(keep, fcol, "left").filter(survive).drop(*drop_cols)


@per_context
def _exact_dedup_columns(id_col: str, fcol: str) -> tuple[Column, Column, Column]:
    """exact_dedup's has-fingerprint filter, keeper aggregate and survivor
    filter."""
    return (
        F.col(fcol).isNotNull(),
        F.min(id_col).alias("__keep"),
        F.col(fcol).isNull()
        | (F.col(id_col) == F.col("__keep"))
        | (F.col(id_col).isNull() & F.col("__keep").isNull()),
    )


def dedup_weights(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Soft dedup — downweight, don't drop (the loss-weighting
    alternative to hard removal used by public LM-data ablations):
    every row gets its exact-content group size and ``weight`` =
    1/n_copies, so a training run sees one EFFECTIVE copy of each
    duplicated document without the pipeline having to choose a keeper.
    Output: ``(id_col, fp, n_copies bigint, weight double)``.

    NULL text ⇒ NULL fingerprint: such rows are not duplicates of each
    other (same rule as exact_dedup) — they get n_copies 1, weight 1.

    Scale shape: one shuffle on the uniform md5 fingerprint key for the
    group count; the join back is on the same key, so the count and the
    join co-partition (no second corpus-wide repartition). At 10^12
    docs this is exactly the exact_dedup plan with a count instead of a
    min."""
    f = fingerprint(df, text_col).select(
        id_col, F.col("fingerprint").alias("fp")
    )
    c = f.filter(F.col("fp").isNotNull()).groupBy("fp").agg(
        F.count(F.lit(1)).alias("__n")
    )
    return f.join(c, "fp", "left").select(
        id_col,
        "fp",
        F.coalesce("__n", F.lit(1)).cast("long").alias("n_copies"),
        F.round(F.lit(1.0) / F.coalesce("__n", F.lit(1)), 6).alias("weight"),
    )


def _candidates(
    sig: DataFrame, bands: int, rows_per_band: int, max_bucket: int = 1000
) -> DataFrame:
    """Candidate pairs ``(id_a, id_b)`` from a materialized ``(__id, __sig)``
    signature frame, which the plan reads twice (bucket widths + pairs)."""
    c = _candidate_columns(bands, rows_per_band, max_bucket)
    banded = sig.select("__id", c["explode"]).select("__id", *c["band_key"])

    # Defensive cap on degenerate buckets (near-empty shingle sets collide).
    sizes = banded.groupBy("band", "key").agg(c["width"])
    banded = banded.join(sizes.filter(c["capped"]).drop("__bw"), ["band", "key"])

    # Pair generation per bucket via collect_list + narrow explode (r7,
    # guide §2.4): the capped join's output is already partitioned on
    # (band, key), so the groupBy below shares its exchange — where the
    # old a⋈b self-join paid ANOTHER exchange and materialized every
    # within-bucket pair as a join output row before the distinct. The
    # per-bucket id array is bounded by ``max_bucket`` (the width filter
    # ran above), so aggregate state is O(cap); the pair blowup happens
    # in a streaming explode instead of a join. Identical pair set
    # (id_a < id_b within a shared bucket, distinct across bands) —
    # equality asserted against the self-join form at 100k docs.
    buckets = banded.groupBy("band", "key").agg(c["ids"])
    return buckets.select(c["id_a"], "__ids").select("id_a", c["id_b"]).distinct()


@per_context
def _candidate_columns(bands: int, rows_per_band: int, max_bucket: int) -> dict:
    """_candidates' Columns: the band explode and its fields, the bucket
    width and its cap, the per-bucket id list and the two pair explodes."""
    return {
        "explode": F.explode(lsh_band_keys("__sig", bands, rows_per_band)).alias("b"),
        "band_key": (F.col("b.band").alias("band"), F.col("b.key").alias("key")),
        "width": F.count(F.lit(1)).alias("__bw"),
        "capped": F.col("__bw") <= max_bucket,
        "ids": F.collect_list("__id").alias("__ids"),
        "id_a": F.explode("__ids").alias("id_a"),
        "id_b": F.explode(F.filter(F.col("__ids"), lambda x: x > F.col("id_a"))).alias(
            "id_b"
        ),
    }


def _shingle_signature_checkpoint(
    df: DataFrame, id_col: str, text_col: str, shingle_k: int, num_perm: int
) -> tuple[DataFrame, frozenset[int]]:
    """``(__sid, __sh, __sig)`` — shingle sets and MinHash signatures — as
    ONE eager checkpoint, with its block ids. Not ``persist()``: AQE
    submits the sibling stages that read the shingles at the same moment,
    so each missed the still-empty cache and shingled and signed the
    corpus itself (two ~0.7 s jobs 6 ms apart at 4k docs). One chained
    UDF call emits both columns, so the pass shingles and signs each
    document once (shingles_with_signature)."""
    from validate_xml_rust_spark.ckpt import eager_checkpoint

    pair, split = _shingle_signature_columns(id_col, text_col, shingle_k, num_perm)
    return eager_checkpoint(df.select(*pair).select("__sid", *split))


@per_context
def _shingle_signature_columns(
    id_col: str, text_col: str, shingle_k: int, num_perm: int
) -> tuple[tuple[Column, Column], tuple[Column, Column]]:
    """``(__sid, __ss)`` from one UDF call, then ``__ss`` split into
    ``(__sh, __sig)``."""
    ss = shingles_with_signature(shingle_hashes(text_col, shingle_k), num_perm)
    return (
        (F.col(id_col).alias("__sid"), ss.alias("__ss")),
        (F.col("__ss.sh").alias("__sh"), F.col("__ss.sig").alias("__sig")),
    )


def _verified_pairs(cands: DataFrame, sh: DataFrame, threshold: float) -> DataFrame:
    """``(id_a, id_b, jaccard)``: the candidate pairs whose exact Jaccard
    over the ``(__sid, __sh)`` shingle sets, rounded to 6 dp, reaches
    ``threshold``."""
    side_a, side_b, score, passes = _verify_columns(threshold)
    return (
        cands.join(sh.select(*side_a), "id_a")
        .join(sh.select(*side_b), "id_b")
        .withColumn("jaccard", score)
        .filter(passes)
        .select("id_a", "id_b", "jaccard")
    )


@per_context
def _verify_columns(threshold: float) -> tuple:
    """_verified_pairs' Columns: the shingle table renamed to each pair
    side, the rounded Jaccard and its threshold filter."""
    return (
        (F.col("__sid").alias("id_a"), F.col("__sh").alias("sh_a")),
        (F.col("__sid").alias("id_b"), F.col("__sh").alias("sh_b")),
        F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6),
        F.col("jaccard") >= threshold,
    )


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Verified near-dup pairs ``(id_a, id_b, jaccard)``: LSH candidates
    re-checked with exact Jaccard over shingle hashes (two broadcast-
    friendly joins back to the shingle sets).

    Shingles and signs the corpus in ONE checkpointed job that candidate
    generation and both verify joins read, and returns the verified pairs
    as an eager checkpoint — the only blocks the call leaves."""
    from validate_xml_rust_spark.ckpt import eager_checkpoint, release_blocks

    ck, ck_ids = _shingle_signature_checkpoint(df, id_col, text_col, shingle_k, num_perm)
    sh = ck.select("__sid", "__sh")
    # r7 (guide §2.3/§8: decide with small rows, move heavy rows once):
    # materialize the candidate pairs, then semi-join the shingle table
    # down to the ids in some pair BEFORE the two verify joins, which then
    # shuffle only the candidates' arrays (1/3 of the ids and 2/3 fewer
    # array bytes on the 100k prose corpus). Identical output.
    sig_id, cid_a, cid_b, in_pair_on = _pair_id_columns()
    sig = ck.select(sig_id, "__sig")
    cands, cand_ids = eager_checkpoint(_candidates(sig, bands, num_perm // bands))
    in_pair = cands.select(cid_a).unionByName(cands.select(cid_b)).distinct()
    sh = sh.join(F.broadcast(in_pair), in_pair_on, "left_semi")
    out, _ = eager_checkpoint(_verified_pairs(cands, sh, threshold))
    release_blocks(df.sparkSession.sparkContext, ck_ids | cand_ids)
    return out


@per_context
def _pair_id_columns() -> tuple[Column, Column, Column, Column]:
    """minhash_near_duplicates' signature id, both pair ids as ``__cid`` and
    the shingle table's semi-join condition on them."""
    return (
        F.col("__sid").alias("__id"),
        F.col("id_a").alias("__cid"),
        F.col("id_b").alias("__cid"),
        F.col("__sid") == F.col("__cid"),
    )


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    chunk_bits: int = 16,
) -> DataFrame:
    """SimHash near-dups: pairs with Hamming distance ≤ ``max_hamming``.

    Banding by ``chunk_bits``-bit chunks of the 64-bit hash: two hashes
    within Hamming d share at least one of ceil(64/chunk_bits) chunks
    whenever d < 64/chunk_bits (pigeonhole) — exact-match bucket join on
    chunks, then verify with bit_count(xor). Returned as an eager
    checkpoint, the only blocks the call leaves."""
    from validate_xml_rust_spark.ckpt import eager_checkpoint, release_blocks

    n_chunks = 64 // chunk_bits
    h, h_ids = eager_checkpoint(
        df.select(F.col(id_col).alias("__id"), simhash64(text_col).alias("__sh"))
    )
    chunks = h.select(
        "__id",
        "__sh",
        F.explode(
            F.expr(
                f"transform(sequence(0, {n_chunks - 1}), c -> "
                f"struct(c AS chunk, shiftright(__sh, c * {chunk_bits}) & {(1 << chunk_bits) - 1} AS ck))"
            )
        ).alias("c"),
    ).select("__id", "__sh", F.col("c.chunk").alias("chunk"), F.col("c.ck").alias("ck"))
    a, b = chunks.alias("a"), chunks.alias("b")
    out, _ = eager_checkpoint(
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.ck") == F.col("b.ck"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            hamming64(F.col("a.__sh"), F.col("b.__sh")).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
    release_blocks(df.sparkSession.sparkContext, h_ids)
    return out


def connected_components(
    pairs: DataFrame, max_iterations: int = 20, stats: dict | None = None
) -> DataFrame:
    """Connected components over near-dup pairs → ``(id, component)`` with
    component = min id in the component (the canonical survivor).

    Each round does min-label propagation (every node adopts the smallest
    label in its neighborhood) PLUS a pointer-jumping shortcut (every node
    re-reads the label OF its label — classic path halving), so chains
    converge in O(log diameter) rounds, not O(diameter): a 10^4-long
    boilerplate chain needs ~14 rounds, not 10^4. Each round is two
    shuffles over the labels table (#near-dup nodes — tiny next to the
    corpus). ``stats['iterations']`` reports the round count when a dict
    is passed.

    SMALL-SUBGRAPH fast path (r7): a pair table with at most
    ``$VXRS_CC_DRIVER_MAX_EDGES`` (default 2^19) doubled distinct edges —
    read by one bounded ``limit`` collect — is labeled by a driver-side
    min-root union-find instead of the join rounds, each of which costs a
    checkpoint job + an aggregate regardless of size (profiled 4.3 s for
    2 rounds over 12k pairs). Labels are IDENTICAL: min root = min member,
    the min-label fixpoint; Python's code-point string order matches
    Spark's UTF-8 binary order. Both paths return an eager localCheckpoint."""
    import os

    from validate_xml_rust_spark.ckpt import eager_checkpoint, release_blocks

    c = _component_columns()
    edges = pairs.select(*c["forward"]).unionByName(pairs.select(*c["backward"])).distinct()
    driver_max = int(os.environ.get("VXRS_CC_DRIVER_MAX_EDGES", str(1 << 19)))
    # one bounded collect: a pair table longer than the gate goes distributed
    head = pairs.select("id_a", "id_b").limit(driver_max + 1).collect()
    n_edges = len(set(head) | {(b, a) for a, b in head})  # doubled, distinct
    if len(head) <= driver_max and n_edges <= driver_max:
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        for a, b in head:
            a, b = find(a), find(b)
            if a == b:
                continue
            if b < a:
                a, b = b, a
            parent[b] = a  # root stays the MIN member
        nodes = sorted({x for pair in head for x in pair})
        t = edges.schema["src"].dataType.simpleString()
        labels, _ = eager_checkpoint(
            local_frame(
                pairs.sparkSession,
                f"id {t}, component {t}",
                {"id": nodes, "component": [find(n) for n in nodes]},
            )
        )
        if stats is not None:
            stats["iterations"] = 1
        return labels
    # The initial labels and every round read the edges: materialize them
    # once, and free them after the last round's labels have materialized.
    sc = pairs.sparkSession.sparkContext
    edges, edge_ids = eager_checkpoint(edges)
    labels, ckpt_ids = eager_checkpoint(
        edges.select(c["src_id"]).distinct().withColumn("component", c["id"])
    )
    # The sum-based convergence test (see loop) needs a numeric label
    # domain; string/other id types keep the join-based probe (a DECIMAL
    # cast of 'u0' would THROW under ANSI — caught by the orchestrate
    # contamination test's string-id corpus).
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    numeric_ids = isinstance(
        labels.schema["component"].dataType,
        (ByteType, ShortType, IntegerType, LongType),
    )
    label_sum = labels.agg(c["label_sum"]).collect()[0]["s"] if numeric_ids else None
    # Iteration hygiene for web-scale pair tables: every round REPLACES the
    # labels frame with an eager localCheckpoint — the round is materialized
    # anyway (the convergence count), and with pointer jumping the logical
    # tree would otherwise TRIPLE per round (each round references the
    # previous one three times); checkpointing keeps plan depth constant.
    # Superseded checkpoints are released at the RDD level once the newer
    # one is materialized, so executor cache never grows across rounds.
    for it in range(max_iterations):
        neighbor = (
            edges.join(labels, edges["dst"] == labels["id"])
            .groupBy("src")
            .agg(c["nbr"])
        )
        propagated = labels.join(neighbor, labels["id"] == neighbor["src"], "left").select(
            "id", c["propagate"]
        )
        # pointer jumping: component ← component's component (labels only
        # ever hold existing node ids, so the self-join always resolves);
        # this is what turns O(diameter) chains into O(log diameter)
        hop = propagated.select(*c["hop"])
        updated = propagated.join(
            hop, propagated["component"] == hop["__cid"], "left"
        ).select("id", c["jump"])
        new_labels, new_ckpt_ids = eager_checkpoint(updated)
        if numeric_ids:
            # convergence test WITHOUT a join (r7): labels are MONOTONE —
            # every round replaces a component with least(old, ...), so
            # some label changed iff Σ component strictly decreased. One
            # block-scan DECIMAL aggregate (exact, overflow-free) over
            # the new checkpoint replaces the u⋈l inequality probe — one
            # fewer shuffle join per round, same fixpoint (guide §2.4).
            new_sum = new_labels.agg(c["label_sum"]).collect()[0]["s"]
            changed = 0 if new_sum == label_sum else 1
            label_sum = new_sum
        else:
            # non-numeric label domain: the pre-r7 materialized-frame
            # inequality probe (both sides are tiny checkpoints)
            changed = (
                new_labels.alias("u")
                .join(labels.alias("l"), "id")
                .filter(F.col("u.component") != F.col("l.component"))
                .limit(1)
                .count()
            )
        # A checkpoint's blocks ARE its data (lineage-free): release the
        # superseded one only now that the newer checkpoint has
        # materialized and nothing in any live plan can reach it.
        release_blocks(sc, ckpt_ids)
        ckpt_ids = new_ckpt_ids
        labels = new_labels
        if stats is not None:
            stats["iterations"] = it + 1
        if changed == 0:
            break
    release_blocks(sc, edge_ids)
    return labels


@per_context
def _component_columns() -> dict:
    """connected_components' Columns: the pair table as forward and
    backward edges, the initial labels, the exact label sum, and each
    round's neighbor minimum, propagation and pointer jump."""
    comp = F.col("component")
    return {
        "forward": (F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        "backward": (F.col("id_b").alias("src"), F.col("id_a").alias("dst")),
        "src_id": F.col("src").alias("id"),
        "id": F.col("id"),
        "label_sum": F.sum(comp.cast("decimal(38,0)")).alias("s"),
        "nbr": F.min("component").alias("nbr"),
        "propagate": F.least(comp, F.coalesce(F.col("nbr"), comp)).alias("component"),
        "hop": (F.col("id").alias("__cid"), comp.alias("__ccomp")),
        "jump": F.least(comp, F.coalesce(F.col("__ccomp"), comp)).alias("component"),
    }


def quality_keepers(
    comp: DataFrame,
    scored: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "quality",
) -> DataFrame:
    """Quality-aware keeper choice per near-dup component (the
    keep-the-best-copy policy real pipelines prefer over keep-min-id —
    e.g. keep the longest / highest-quality member): ``comp`` is the
    (id, component) labeling from connected_components, ``scored``
    carries (id_col, score_col); keeper = the member with the MAXIMUM
    score, ties broken to the minimum id. Returns (id, keeper) for
    every component member.

    ANSI-safe argmax: max-score per component, then min-id among the
    max-score members — two aggregates over the (tiny, dup-subgraph-
    only) component table, no struct-negation tricks (-id overflows
    under ANSI at LONG_MIN) and no max_by (nondeterministic on ties).

    Both inputs are read MORE THAN ONCE by the three-way derivation —
    pass small or materialized frames (near_dedup checkpoints the
    dup-ids-only score slice before calling; the gate reuses its
    checkpointed comp)."""
    sc = scored.select(
        F.col(id_col).alias("id"), F.col(score_col).alias("__s")
    )
    # LEFT join + null-safe max match: a member missing from ``scored``
    # (or carrying a NULL score) must still participate — with NULL
    # treated as the worst score. An all-NULL component would otherwise
    # produce NO keeper row (max = NULL, __s == NULL never true) and
    # every duplicate in it would silently survive the dedup.
    j = comp.join(sc, "id", "left")
    mx = j.groupBy("component").agg(F.max("__s").alias("__mx"))
    kp = (
        j.join(mx, "component")
        .filter(F.col("__s").eqNullSafe(F.col("__mx")))
        .groupBy("component")
        .agg(F.min("id").alias("keeper"))
    )
    return j.join(kp, "component").select("id", "keeper")


def near_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    broadcast_drop: bool = True,
    stats: dict | None = None,
    keeper_score_col: str | None = None,
    **minhash_kwargs,
) -> DataFrame:
    """End-to-end near-duplicate removal: MinHash pairs → connected
    components → keep one row of each component: the min-id member by
    default, or — with ``keeper_score_col`` naming a score column on
    ``df`` — the highest-score member (ties to min id; the
    keep-the-best-copy policy, see quality_keepers). Rows not in any
    pair survive untouched (the common case — components cover only the
    near-dup subgraph). ``broadcast_drop=False`` for corpora where the
    duplicate set itself is too large to broadcast (falls back to a
    sort-merge anti-join).

    The returned frame's anti-join references an internal drop-set
    localCheckpoint (one row per dropped doc — corpus-fraction sized on
    dup-heavy crawls) that ``DataFrame.unpersist`` cannot reach. Pass a
    ``stats`` dict and release ``stats['ckpt_block_ids']`` via
    ``ckpt.release_blocks`` once your own downstream action/checkpoint has
    materialized (pipeline.curate does this); otherwise the blocks live
    until the executor JVM drops them."""
    from validate_xml_rust_spark.ckpt import (
        block_ids_of,
        eager_checkpoint,
        release_blocks,
    )

    # the (small) pairs table is materialized once and the corpus-sized
    # shingle/signature blocks are freed before CC reads it
    pairs = minhash_near_duplicates(
        df, id_col, text_col, threshold=threshold, **minhash_kwargs
    )
    comp = connected_components(pairs)
    c = _near_dedup_columns(id_col, keeper_score_col)
    if keeper_score_col is None:
        drop_frame = comp.filter(c["dup"]).select(c["drop"])
    else:
        # quality-aware keeper: slice the corpus to (id, score) for dup
        # ids only (one column-pruned pass through a broadcast semi
        # join) and materialize it — quality_keepers reads its inputs
        # multiple times, and without the checkpoint each read would
        # re-scan the corpus
        sc_small, sc_ids = eager_checkpoint(
            df.select(*c["score"]).join(F.broadcast(comp.select("id")), "id", "left_semi")
        )
        keep = quality_keepers(comp, sc_small, "id", "__kscore")
        drop_frame = keep.filter(c["not_keeper"]).select(c["drop"])
    # materialize the (tiny — dup ids only) drop set, then release the
    # pairs and final-label checkpoints: the caller's anti-join references
    # only the drop blocks, so nothing near-dup-sized outlives the call
    drop, drop_ids = eager_checkpoint(drop_frame)
    if keeper_score_col is not None:
        release_blocks(df.sparkSession.sparkContext, sc_ids)
    if stats is not None:
        stats["ckpt_block_ids"] = drop_ids
    release_blocks(df.sparkSession.sparkContext, block_ids_of(pairs) | block_ids_of(comp))
    if broadcast_drop:
        drop = F.broadcast(drop)
    return df.join(drop, c["dropped"], "left_anti")


@per_context
def _near_dedup_columns(id_col: str, keeper_score_col: str | None) -> dict:
    """near_dedup's Columns: the non-root and non-keeper member filters,
    the drop id, the keeper-score slice and the anti-join condition."""
    return {
        "dup": F.col("id") != F.col("component"),
        "not_keeper": F.col("id") != F.col("keeper"),
        "drop": F.col("id").alias("__drop"),
        "score": ()
        if keeper_score_col is None
        else (F.col(id_col).alias("id"), F.col(keeper_score_col).alias("__kscore")),
        "dropped": F.col(id_col) == F.col("__drop"),
    }


def leakage_safe_split(
    df: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    seed: str = "split",
    stats: dict | None = None,
    **minhash_kwargs,
) -> DataFrame:
    """Deterministic train/val/test splitting that cannot leak through
    near-duplicates: every near-dup COMPONENT draws one md5 ticket (on
    its component label) and lands atomically in one split, so a test
    document can never have a near-copy in train — the classic
    eval-contamination pitfall a per-document split has. Docs in no
    component draw on their own id.

    ``weights`` maps split name → fraction (must sum to ~1); assignment
    is by cumulative ticket thresholds in sorted-name order, so
    membership is reproducible across runs, partitionings, and engines
    (the ticket arithmetic is the hash_sample one, SQL-restatable).
    Output: the input rows + ``split string``. NULL-id rows draw on a
    NULL key → NULL ticket → the FIRST split in sorted order (never
    silently dropped; route them upstream if that matters).

    Scale shape: the component labeling covers only the near-dup
    subgraph (minhash pairs → pointer-jumping CC, both gated); the
    label map is dup-subgraph-sized and joins back as the broadcast(or
    SMJ) side; the split decision is a stateless per-row predicate.
    Pass a ``stats`` dict and release ``stats['ckpt_block_ids']`` once
    downstream has materialized (same contract as near_dedup)."""
    from validate_xml_rust_spark.ckpt import (
        block_ids_of,
        eager_checkpoint,
        release_blocks,
    )
    from validate_xml_rust_spark.operators.curation import (
        TICKET_SPACE,
        sample_ticket,
    )

    total = float(sum(weights.values()))
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"split weights must sum to 1, got {total}")
    pairs = minhash_near_duplicates(
        df, id_col, text_col, threshold=threshold, **minhash_kwargs
    )
    comp = connected_components(pairs)
    labels, label_ids = eager_checkpoint(
        comp.select(F.col("id").alias("__lid"), F.col("component").alias("__comp"))
    )
    if stats is not None:
        stats["ckpt_block_ids"] = label_ids
    release_blocks(
        df.sparkSession.sparkContext, block_ids_of(pairs) | block_ids_of(comp)
    )
    key = F.coalesce(F.col("__comp"), F.col(id_col).cast("long"))
    tick = sample_ticket(key, seed)
    acc = 0.0
    split_col: Column = F.lit(sorted(weights)[0])
    for name in sorted(weights):
        if acc > 0.0:
            split_col = F.when(
                tick >= int(acc * TICKET_SPACE), F.lit(name)
            ).otherwise(split_col)
        acc += weights[name]
    return (
        df.join(labels, df[id_col] == F.col("__lid"), "left")
        .withColumn("split", split_col)
        .drop("__lid", "__comp")
    )


def incremental_dedup(
    new_df: DataFrame,
    seen: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    fingerprint_col: str = "fingerprint",
    broadcast_seen: bool = False,
) -> DataFrame:
    """Batch-incremental exact dedup: keep the rows of a NEW corpus slice
    (the daily crawl) that are neither already in the historical
    fingerprint store ``seen`` nor duplicated within the slice itself —
    the batch analog of streaming_first_seen_dedup, for pipelines that
    ingest in daily table snapshots rather than a stream.

    ``seen`` needs only a ``fingerprint_col`` column (the store the
    previous runs appended — write ``fingerprint(new_slice)`` back after
    each ingest). Scale shape: one anti-join keyed on the md5 fingerprint
    (uniform, skew-free); the store side is a sorted/bucketed table at
    corpus scale, so the join is a sort-merge over co-partitioned hashes
    — or ``broadcast_seen=True`` when the store is small. NULL-text rows
    pass through (no fingerprint → not duplicates, same rule as
    exact_dedup)."""
    fp = fingerprint(new_df, text_col)
    store = seen.select(F.col(fingerprint_col).alias("fingerprint")).distinct()
    if broadcast_seen:
        store = F.broadcast(store)
    # left_anti passes NULL-fingerprint rows through by itself (NULL
    # equi-matches nothing), so no special-casing is needed here
    fresh = fp.join(store, "fingerprint", "left_anti")
    # reuse the fingerprint already computed for the anti-join — recomputing
    # it inside exact_dedup would run the trim/regexp/lower/md5 normalization
    # (the dominant per-row CPU here) over every surviving row twice
    return exact_dedup(
        fresh, id_col, text_col, fingerprint_col="fingerprint"
    ).drop("fingerprint")


class SignatureStore:
    """Persisted MinHash-LSH band-signature store for batch-incremental
    NEAR-dedup across recurring ingests — the near-dup analog of the
    exact fingerprint store consumed by ``incremental_dedup``, the batch
    analog of streaming/stateful.py's keyed band-bucket state, and the
    cross-run-reuse analog of the reference's two-tier cache
    (src/cache.rs:139-316): today's accepted corpus signs itself ONCE and
    every later ingest reuses those rows instead of re-shingling history.

    Layout under ``root``::

        root/_log/<g>.json   — one record per generation (``genlog``):
                               kind, path, n_docs, num_perm, bands,
                               shingle_k. Doubles as the parameter
                               pin — every generation must be signed with
                               the SAME hash family or band keys stop being
                               comparable, so reads refuse a mismatch.
                               ``compact()`` publishes a ``base`` record that
                               replaces every generation before it: readers
                               start at the latest base
        root/gen-<g>/bands   — (band int, key long, doc_id) in JOIN layout:
                               candidate generation is a plain equi-join
                               on (band, key); at cluster scale this table
                               is written bucketed by key so the sort-merge
                               shuffles only the (small) daily slice, never
                               the 10^12-doc history
        root/gen-<g>/sketch  — (doc_id, sig array<long>[, shingles
                               array<long>]) — the verification side;
                               ``store_shingles=False`` omits the shingle
                               sets (signature-agreement verification
                               only) for a ~5-10× smaller store

    A generation's payload directory is written BEFORE its record, so a
    crash leaves at most an unpublished ``gen-<g>`` that the next commit
    overwrites. Single writer: two concurrent committers would write the
    same ``gen-<g>``. No log yet → empty store → first ingest bootstraps
    generation 1 (plain within-slice near_dedup semantics). A root that
    holds the older ``catalog/`` layout and no log is refused: read as
    empty, the next ingest would overwrite its ``gen-1``."""

    def __init__(
        self,
        spark,
        root: str,
        num_perm: int = 32,
        bands: int = 8,
        shingle_k: int = 3,
        store_shingles: bool = True,
    ) -> None:
        if num_perm % bands:
            raise ValueError(f"bands {bands} must divide num_perm {num_perm}")
        self.spark, self.root = spark, root
        self.num_perm, self.bands, self.shingle_k = num_perm, bands, shingle_k
        self.store_shingles = store_shingles

    def generations(self) -> list[tuple[int, str, int]]:
        """Live ``(generation, path, n_docs)`` rows, oldest first: the
        latest base record and every commit after it, read from the log
        on the driver (no Spark job). Also the parameter-pin check: a
        generation signed with a different hash family is a hard error,
        not a silent recall loss."""
        import os

        recs = genlog.records(self.root)
        if not recs and os.path.isdir(f"{self.root}/catalog"):
            raise ValueError(
                f"{self.root} holds a catalog/ store layout with no "
                f"{genlog.LOG_DIR}/ log; it is not read (as an empty store "
                "the next commit would overwrite gen-1)"
            )
        base = max(
            (i for i, r in enumerate(recs) if r["kind"] == "base"), default=0
        )
        want = (self.num_perm, self.bands, self.shingle_k)
        for r in recs[base:]:
            got = (r["num_perm"], r["bands"], r["shingle_k"])
            if got != want:
                raise ValueError(
                    f"store generation {r['generation']} was signed with "
                    f"(num_perm, bands, shingle_k)={got}, store opened with "
                    f"{want} — band keys are not comparable across families"
                )
        return [(r["generation"], r["path"], r["n_docs"]) for r in recs[base:]]

    def latest_generation(self) -> int:
        gens = self.generations()
        return gens[-1][0] if gens else 0

    def bands_frame(self) -> DataFrame | None:
        """All committed band rows ``(band, key, doc_id)`` — the
        generation-addressed union read (explicit path selection off the
        log, the Iceberg-snapshot-scan shape)."""
        gens = self.generations()
        if not gens:
            return None
        return self.spark.read.parquet(*[f"{p}/bands" for _, p, _ in gens])

    def sketch_frame(self) -> DataFrame | None:
        gens = self.generations()
        if not gens:
            return None
        return self.spark.read.parquet(*[f"{p}/sketch" for _, p, _ in gens])

    def _publish(self, kind: str, sketch: DataFrame) -> int:
        """Write one generation dir (sketch + banded layout derived FROM
        THE WRITTEN PARQUET — one cheap re-read of id+sig, never a
        signature recompute), then publish its log record; returns the
        generation. The row count comes from an Observation on the
        sketch write.

        Both tables are REPARTITIONED on write — bands by ``key`` (the
        candidate join's equi-key: key-clustered files are the layout
        that lets a cluster deployment bucket the store so only the
        slice shuffles), sketches by ``doc_id``. Without this a small
        store lands as one parquet file, and every later ingest's
        store-side scan/join/widths-agg runs at parallelism 1 REGARDLESS
        of cores — measured as a size-dependent serial term in the 2→8
        scaling contrast (the write-once shuffle here is amortized over
        every future ingest that reads the generation)."""
        path = f"{self.root}/gen-{self.latest_generation() + 1}"
        npart = self.spark.sparkContext.defaultParallelism
        cols = ["doc_id", "sig"] + (["shingles"] if self.store_shingles else [])
        obs = Observation()
        (
            sketch.select(*cols)
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .repartition(npart, "doc_id")
            .write.mode("overwrite")
            .parquet(f"{path}/sketch")
        )
        written = self.spark.read.parquet(f"{path}/sketch")
        rows_per_band = self.num_perm // self.bands
        (
            written.select(
                "doc_id",
                F.explode(
                    lsh_band_keys(F.col("sig"), self.bands, rows_per_band)
                ).alias("b"),
            )
            .select(F.col("b.band").alias("band"), F.col("b.key").alias("key"), "doc_id")
            .repartition(npart, "key")
            .write.mode("overwrite")
            .parquet(f"{path}/bands")
        )
        return genlog.append(self.root, {
            "kind": kind, "path": path, "n_docs": int(obs.get["n"]),
            "num_perm": self.num_perm, "bands": self.bands,
            "shingle_k": self.shingle_k,
        })

    def commit(self, sketch: DataFrame) -> int:
        """Append ``sketch`` — ``(doc_id, sig array<long>, shingles
        array<long>)`` — as the next generation. Older generations remain
        for audit/rollback (the reference's cache generations,
        src/cache.rs:139-316)."""
        return self._publish("commit", sketch)

    def compact(self) -> int:
        """Rewrite all live generations as ONE (the reference's
        cache-cleanup analog, src/cache.rs:422-448): the union sketch is
        written as the next generation and published as a ``base``
        record, so reads stop unioning a long generation chain. Older
        generation dirs stay on disk unreferenced (audit/rollback).
        Duplicate doc_ids across generations collapse to one row
        (identical content → identical sketch; a RE-SUBMITTED id with
        different content is ambiguous — dedupe upstream). No-op (returns
        the head generation) on stores with ≤1 generation."""
        gens = self.generations()
        if len(gens) <= 1:
            return gens[-1][0] if gens else 0
        union = self.sketch_frame().dropDuplicates(["doc_id"])
        return self._publish("base", union)


def incremental_near_dedup(
    new_df: DataFrame,
    store: SignatureStore,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    verify: str = "exact",
    commit: bool = True,
    max_bucket: int = 1000,
    stats: dict | None = None,
) -> DataFrame:
    """Batch-incremental NEAR-dedup of a new corpus slice (today's crawl)
    against a persisted :class:`SignatureStore` (last month's accepted
    corpus) — the recurring-ingest core loop the exact-hash
    ``incremental_dedup`` can't cover. The slice signs ITSELF only; the
    historical side is never re-shingled (its stored band rows are the
    reused computation — reference two-tier-cache analog,
    src/cache.rs:403-448).

    Drop rule: a slice doc is dropped iff it near-matches any store doc,
    OR it belongs to a within-slice near-dup component that (a) contains
    such a store-matched doc — the whole component is already represented
    in the corpus — or (b) whose min-id keeper it is not. Survivors are
    returned with the slice's full schema; ``commit=True`` appends their
    signatures (+ shingle sketches) as the next store generation.

    Equivalence caveat (r6 ADVICE): this equals global keep-first
    semantics over the union corpus only when duplicate components never
    straddle a kept/dropped historical boundary. Jaccard is not
    transitive: a slice doc near-matching a historical doc that was
    itself DROPPED in an earlier run (a non-keeper — absent from the
    store) but NOT that doc's stored keeper survives incrementally,
    while a global near_dedup over the union would drop it. Storing
    non-keeper signatures too (taint against all historical members)
    would close the gap at ~n× store growth; the ordered-split test
    documents the regime where the equality holds exactly.

    ``verify``: ``"exact"`` (default) re-checks store candidates with
    exact Jaccard over the stored shingle sketches — the verification the
    brute-force oracle can reproduce; ``"estimate"`` thresholds on the
    MinHash signature-agreement fraction instead (E[agree] = J, σ ≈
    √(J(1−J)/num_perm) ≈ 0.07 at num_perm=32 — a ±1σ band around the
    threshold misclassifies, so reserve it for stores written with
    ``store_shingles=False``).

    Scale shape: slice shingles+signatures checkpointed once (corpus-pass
    #1 of 1); within-slice pairs via the capped band self-join
    (``_candidates``); store candidates via ONE equi-join of the
    slice's exploded band keys against the store's banded layout (store
    side pre-bucketed by key at cluster scale → only the slice shuffles);
    components over the pair subgraph only; the drop set is a broadcast
    anti-join. Degenerate buckets (e.g. empty-shingle docs collapse to
    one signature) are capped on BOTH sides by ``max_bucket``.

    Pass ``stats`` to receive ``n_store_matches``, ``n_dropped``,
    ``generation`` (the committed generation or None) and
    ``ckpt_block_ids`` (release via ckpt.release_blocks once a downstream
    checkpoint/action has materialized — near_dedup's contract)."""
    from validate_xml_rust_spark.ckpt import (
        block_ids_of,
        eager_checkpoint,
        release_blocks,
    )

    if verify not in ("exact", "estimate"):
        raise ValueError(f"verify must be 'exact' or 'estimate': {verify!r}")
    if verify == "exact" and not store.store_shingles:
        raise ValueError(
            "verify='exact' needs stored shingle sketches; this store was "
            "opened with store_shingles=False — use verify='estimate'"
        )
    num_perm, bands, shingle_k = store.num_perm, store.bands, store.shingle_k
    rows_per_band = num_perm // bands
    sc = new_df.sparkSession.sparkContext

    # slice pass: tokenize+shingle+sign ONCE for candidate generation,
    # verification, and (on commit) the appended generation
    ck, ck_ids = _shingle_signature_checkpoint(
        new_df, id_col, text_col, shingle_k, num_perm
    )
    sh = ck.select("__sid", "__sh")
    sig = ck.select(F.col("__sid").alias("__id"), "__sig")

    # within-slice verified pairs (the minhash_near_duplicates pipeline)
    cands = _candidates(sig, bands, rows_per_band, max_bucket)
    within = _verified_pairs(cands, sh, threshold)

    # store candidates: slice band keys ⋈ store banded layout
    store_bands = store.bands_frame()
    if store_bands is None:
        tainted = sig.select(F.col("__id").alias("id")).limit(0)
    else:
        banded = sig.select(
            "__id",
            F.explode(lsh_band_keys(F.col("__sig"), bands, rows_per_band)).alias("b"),
        ).select("__id", F.col("b.band").alias("band"), F.col("b.key").alias("key"))
        # defensive degenerate-bucket cap on the store side (the slice
        # self-join path is capped inside _candidates)
        widths = store_bands.groupBy("band", "key").agg(
            F.count(F.lit(1)).alias("__bw")
        )
        capped = store_bands.join(
            widths.filter(F.col("__bw") <= max_bucket).drop("__bw"),
            ["band", "key"],
        )
        cross = (
            banded.join(capped, ["band", "key"])
            .select(
                F.col("__id").alias("id_new"), F.col("doc_id").alias("id_old")
            )
            .dropDuplicates(["id_new", "id_old"])
        )
        if verify == "exact":
            sk = store.sketch_frame().select(
                F.col("doc_id").alias("id_old"), F.col("shingles").alias("sh_old")
            )
            ver = (
                cross.join(sk, "id_old")
                .join(
                    sh.select(
                        F.col("__sid").alias("id_new"), F.col("__sh").alias("sh_new")
                    ),
                    "id_new",
                )
                .filter(
                    F.round(jaccard(F.col("sh_new"), F.col("sh_old")), 6)
                    >= threshold
                )
            )
        else:
            sk = store.sketch_frame().select(
                F.col("doc_id").alias("id_old"), F.col("sig").alias("sig_old")
            )
            agree = F.expr(
                "aggregate(zip_with(sig_new, sig_old, (x, y) -> "
                f"IF(x <=> y, 1, 0)), 0, (acc, v) -> acc + v) / {num_perm}"
            )
            ver = (
                cross.join(sk, "id_old")
                .join(
                    sig.select(
                        F.col("__id").alias("id_new"), F.col("__sig").alias("sig_new")
                    ),
                    "id_new",
                )
                .filter(agree >= threshold)
            )
        tainted = ver.select(F.col("id_new").alias("id")).distinct()

    comp = connected_components(within)  # (id, component=min id), eager
    taint_ck, taint_ids = eager_checkpoint(tainted)
    if stats is not None:
        stats["n_store_matches"] = taint_ck.count()
    # component-level taint propagation: a within-slice component holding
    # any store-matched member is already represented in the corpus —
    # drop ALL of it (this is what keeps incremental == global keep-first)
    bad_comp = (
        comp.join(
            taint_ck.select(F.col("id").alias("__tid")),
            comp["id"] == F.col("__tid"),
        )
        .select("component")
        .distinct()
    )
    drop_frame = (
        comp.join(F.broadcast(bad_comp), "component", "left_semi")
        .select("id")
        .unionByName(comp.filter(F.col("id") != F.col("component")).select("id"))
        .unionByName(taint_ck.select("id"))
        .distinct()
        .select(F.col("id").alias("__drop"))
    )
    drop, drop_ids = eager_checkpoint(drop_frame)
    if stats is not None:
        stats["n_dropped"] = drop.count()
        stats["ckpt_block_ids"] = drop_ids
    release_blocks(sc, block_ids_of(comp) | taint_ids)

    survivors = new_df.join(
        F.broadcast(drop), new_df[id_col] == F.col("__drop"), "left_anti"
    )
    gen = None
    if commit:
        # the appended generation is derived from the SLICE's checkpointed
        # sketches (never from re-reading text); the write is the action
        # that materializes it, after which the blocks can be released
        surv_sketch = (
            ck.select(
                F.col("__sid").alias("doc_id"),
                F.col("__sig").alias("sig"),
                F.col("__sh").alias("shingles"),
            )
            .join(
                F.broadcast(drop), F.col("doc_id") == F.col("__drop"), "left_anti"
            )
        )
        gen = store.commit(surv_sketch)
    if stats is not None:
        stats["generation"] = gen
    release_blocks(sc, ck_ids)
    return survivors


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    window: int = 4,
) -> DataFrame:
    """Per-document winnowing fingerprint sets ``(id, fingerprints)`` —
    rolling-hash k-grams, min per window, deduplicated (see
    functions/texthash.py:winnow_fingerprints_udf). The containment-
    oriented fingerprint family: two docs sharing any token run of
    ≥ window+shingle_k-1 words share a fingerprint, regardless of how
    small that run is relative to either document."""
    from validate_xml_rust_spark.functions.texthash import winnow_fingerprints_udf

    return df.select(
        F.col(id_col).alias("id"),
        winnow_fingerprints_udf(F.col(text_col), shingle_k, window).alias(
            "fingerprints"
        ),
    )


def winnow_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    window: int = 4,
    max_bucket: int = 1000,
    min_shared: int = 1,
) -> DataFrame:
    """Candidate pairs sharing ≥ ``min_shared`` winnowing fingerprints:
    explode fingerprints → self-join per fingerprint bucket (one shuffle
    on the uniform hash key) → count shared per pair. Same degenerate-
    bucket cap as the MinHash path (a boilerplate fingerprint shared by k
    docs would otherwise fan out k²). Returned as an eager checkpoint,
    the only blocks the call leaves."""
    from validate_xml_rust_spark.ckpt import eager_checkpoint, release_blocks

    # materialize the exploded fingerprints ONCE: the bucket-size pass and
    # the pair pass would otherwise each re-run the Arrow winnowing UDF
    # over the whole corpus (3x measured ~10x wall)
    flat, flat_ids = _fingerprint_checkpoint(df, id_col, text_col, shingle_k, window)
    sizes = flat.groupBy("f").agg(F.count(F.lit(1)).alias("__bw"))
    capped = flat.join(sizes.filter(F.col("__bw") <= max_bucket).drop("__bw"), "f")
    # per-bucket pair generation via collect_list + narrow explode (r7 —
    # the _candidates shape): the capped join's output is already
    # partitioned on f, so the groupBy shares its exchange; the old a⋈b
    # self-join paid another exchange and materialized every
    # within-bucket pair as a join row. Aggregate state is bounded by
    # ``max_bucket`` (the width filter ran above). Identical
    # (id_a, id_b, n_shared) output — pairs per shared fingerprint,
    # counted across fingerprints.
    buckets = capped.groupBy("f").agg(F.collect_list("id").alias("__ids"))
    out, _ = eager_checkpoint(
        buckets.select(F.explode("__ids").alias("id_a"), F.col("__ids"))
        .select(
            "id_a",
            F.explode(
                F.filter(F.col("__ids"), lambda x: x > F.col("id_a"))
            ).alias("id_b"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    release_blocks(df.sparkSession.sparkContext, flat_ids)
    return out


def _fingerprint_checkpoint(
    df: DataFrame, id_col: str, text_col: str, shingle_k: int, window: int
) -> tuple[DataFrame, frozenset[int]]:
    """``(id, f)`` — one row per document fingerprint — as an eager
    checkpoint, with its block ids. ``explode_outer`` + a null filter,
    not ``explode``: Spark infers ``size(fingerprints) > 0`` from an
    explode and pushes it below the projection, which runs the winnowing
    UDF a second time. Same rows: a fingerprint array holds no nulls."""
    from validate_xml_rust_spark.ckpt import eager_checkpoint

    return eager_checkpoint(
        winnow_fingerprints(df, id_col, text_col, shingle_k, window)
        .select("id", F.explode_outer("fingerprints").alias("f"))
        .filter(F.col("f").isNotNull())
    )


def shared_passage_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    window: int = 4,
    stats: dict | None = None,
) -> DataFrame:
    """Doc ids that share at least one winnowing fingerprint with ANOTHER
    doc — the cheap prefilter in front of exact passage marking. Unlike
    ``winnow_candidate_pairs`` this never self-joins (no quadratic bucket
    risk, no cap needed, hence LOSSLESS): one groupBy on the uniform
    fingerprint hash computing min/max doc per fingerprint, then a
    semi-join back. Output: one ``id`` column.

    The result is an eager localCheckpoint (O(candidate ids) rows) the
    downstream plan references — ``DataFrame.unpersist`` cannot free it
    (CLAUDE.md). Pass ``stats`` to receive ``stats['ckpt_block_ids']``
    and release via ``ckpt.release_blocks`` once your own action has
    materialized (pipeline.curate and orchestrate do)."""
    from validate_xml_rust_spark.ckpt import eager_checkpoint, release_blocks

    # the fingerprint checkpoint keeps the UDF from running twice (groupBy
    # pass + semi-join probe); it is released once the id set materializes
    flat, flat_ids = _fingerprint_checkpoint(df, id_col, text_col, shingle_k, window)
    shared = (
        flat.groupBy("f")
        .agg(F.min("id").alias("__lo"), F.max("id").alias("__hi"))
        .filter(F.col("__lo") != F.col("__hi"))
        .select("f")
    )
    out, out_ids = eager_checkpoint(
        flat.join(shared, "f", "left_semi").select("id").distinct()
    )
    if stats is not None:
        stats["ckpt_block_ids"] = out_ids
    release_blocks(df.sparkSession.sparkContext, flat_ids)
    return out


def _marked_starts(
    work: DataFrame,
    min_run: int,
    shingle_k: int,
    prefilter: bool,
    keep_first: bool,
    stats: dict | None = None,
) -> DataFrame:
    """Shared core of excision and detection: per doc, the SORTED set of
    START positions of cross-document shared ``min_run``-grams (minus
    the min-id keeper's copies when ``keep_first``). ``work`` has
    columns ``(__id, __t)``; output ``(__id, __starts array<int>)`` with
    one row per doc that has ANY marked gram. Interval expansion to
    covered positions happens downstream in numpy (excise_rebuild_udf /
    interval_stats_udf) — shuffling the expanded positions here would
    move ~min_run× the rows for the same information. The shared-gram
    test is min(id) != max(id) rather than countDistinct > 1: same
    predicate, but a plain single-phase hash aggregate instead of the
    two-phase distinct-aggregate Expand rewrite.

    The positional grams feed both the keeper aggregate and the join back,
    so they are one eager checkpoint (otherwise each reader runs the gram
    UDF over every candidate doc), released once the returned starts
    checkpoint has materialized, together with the prefilter's candidate
    ids. The starts' block ids go to ``stats['ckpt_block_ids']`` for the
    caller to release after its own action."""
    from validate_xml_rust_spark.ckpt import eager_checkpoint, release_blocks
    from validate_xml_rust_spark.functions.texthash import (
        seq_gram_hashes,
        token_hashes,
    )

    cand_stats: dict = {}
    if prefilter:
        # lossless: a shared run of min_run = window+k-1 tokens guarantees
        # a shared winnow fingerprint, so both docs land in the candidates
        cand_ids = shared_passage_candidates(
            work, "__id", "__t", shingle_k=shingle_k,
            window=min_run - shingle_k + 1, stats=cand_stats,
        )
        cand = work.join(
            cand_ids.withColumnRenamed("id", "__id"), "__id", "left_semi"
        )
    else:
        cand = work
    grams, gram_ids = eager_checkpoint(
        cand.select(
            "__id",
            F.posexplode(
                seq_gram_hashes(token_hashes(F.col("__t")), min_run)
            ).alias("pos", "gh"),
        )
    )
    keepers = grams.groupBy("gh").agg(
        F.min("__id").alias("__keep"), F.max("__id").alias("__hi")
    )
    if keep_first:
        # __id > __keep alone suffices: __keep = min(id), so a strictly
        # greater id already proves the gram is shared by >1 doc
        marked = grams.join(keepers, "gh").filter(
            F.col("__id") > F.col("__keep")
        )
    else:
        marked = grams.join(keepers, "gh").filter(
            F.col("__hi") != F.col("__keep")
        )
    starts, starts_ids = eager_checkpoint(
        marked.groupBy("__id")
        .agg(F.sort_array(F.collect_set("pos")).alias("__starts"))
    )
    release_blocks(
        work.sparkSession.sparkContext,
        gram_ids | cand_stats.get("ckpt_block_ids", frozenset()),
    )
    if stats is not None:
        stats["ckpt_block_ids"] = starts_ids
    return starts


def shared_passage_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_run: int = 8,
    shingle_k: int = 3,
    prefilter: bool = True,
    keep_first: bool = True,
    stats: dict | None = None,
) -> DataFrame:
    """DETECTION-only view of passage excision: per doc with any
    cross-document shared passage, ``(id_col, n_shared_tokens, n_spans)``
    — what WOULD be excised, without rebuilding text. Feeds the
    ``shared_passage`` spec constraint (orchestrate): a validator flags
    the duplication; the transform (``excise_shared_passages``) fixes it.
    Same plan as excision minus the rebuild stage; clean docs emit no row
    (the violation path wants only offenders)."""
    if min_run < shingle_k:
        raise ValueError("need min_run >= shingle_k for the winnow prefilter")
    from validate_xml_rust_spark.functions.texthash import interval_stats_udf

    work = df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__t"))
    cov = _marked_starts(work, min_run, shingle_k, prefilter, keep_first, stats)
    # covered-token count + merged-span count derive from the gram-start
    # array in one Arrow pass (interval math in numpy — a transform/
    # filter HOF over thousands of positions would be interpreted per
    # element; repo rule)
    return cov.select(
        F.col("__id").alias(id_col),
        interval_stats_udf(F.col("__starts"), min_run).alias("__st"),
    ).select(
        id_col,
        F.col("__st.n_tokens").alias("n_shared_tokens"),
        F.col("__st.n_spans").alias("n_spans"),
    )


def excise_shared_passages(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_run: int = 8,
    shingle_k: int = 3,
    prefilter: bool = True,
    keep_first: bool = True,
    stats: dict | None = None,
) -> DataFrame:
    """Substring-level duplicated-passage REMOVAL — the step after
    doc-level dedup in public training-data pipelines (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better", ExactSubstr
    recipe; the reference's whole-file verdict, src/validator.rs:96-107,
    is the doc-level analog this generalizes): passages of ``min_run`` or
    more tokens shared ACROSS documents are excised from all but one
    keeper, while the surrounding unique text survives.

    Semantics (token domain — the engine's shared tokenizer, so the
    output composes with chunking/packing/shingling):

    - every positional ``min_run``-gram occurring in ≥2 docs marks its
      occurrences; with ``keep_first=True`` (default) the occurrence in
      the MIN-id doc survives (deterministic keeper, restatable in SQL) —
      ``keep_first=False`` excises every occurrence (the released
      ExactSubstr behavior, which loses the content entirely);
    - marked occurrences expand to covered token intervals
      ``[pos, pos+min_run-1]``; overlapping/adjacent intervals merge;
    - covered tokens are removed; the doc is rebuilt from the survivors
      in order. A run of L ≥ min_run shared tokens is covered END-TO-END
      (its L-min_run+1 marked grams tile it), so no shared ≥min_run-token
      run survives between any kept pair (property-tested).

    Output: one row per input doc —
    ``(id_col, clean_text, n_tokens_kept, n_tokens_removed, n_spans)``.
    Docs with NO marked gram pass through byte-identical (clean_text ==
    the input text, NULLs included); EXCISED docs are rebuilt
    whitespace-normalized in the token domain.

    Scale shape (10^12 docs): ``prefilter=True`` first finds docs sharing
    any winnowing fingerprint (window sized so the w+k-1 guarantee length
    EQUALS min_run — the prefilter is provably lossless, and the gate
    oracle cross-checks it against the exact no-prefilter restatement).
    Only that near-dup-involved fraction pays the positional-gram
    explode; on a healthy post-dedup corpus that is percents, not the
    corpus. Every shuffle keys on a uniform hash (winnow fingerprint,
    gram hash, doc id); the keeper groupBy and its join-back share the
    gram-hash partitioning; only marked gram STARTS shuffle per doc
    (interval expansion to covered positions happens inside the Arrow
    rebuild — ~min_run× fewer shuffled rows than expanding first);
    per-doc state is bounded by doc length.
    """
    if min_run < shingle_k:
        raise ValueError("need min_run >= shingle_k for the winnow prefilter")
    from validate_xml_rust_spark.functions.texthash import (
        excise_rebuild_udf,
        tokens,
    )

    work = df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__t"))
    cov = _marked_starts(work, min_run, shingle_k, prefilter, keep_first, stats)
    # ONE pass over the joined frame: the rebuild UDF computes the
    # token-domain rebuild for every row (it is a no-op-join for empty
    # starts), and a JVM `when` restores the ORIGINAL text for docs with
    # no marked gram — byte-identity for untouched docs without a second
    # scan of the marking subtree (a touched/untouched branch split
    # re-executes the whole prefilter+marking per branch: measured 1.7×
    # slower even with the starts frame checkpointed)
    reb = work.join(cov, "__id", "left").select(
        "__id",
        "__t",
        "__starts",
        excise_rebuild_udf(
            tokens(F.col("__t")), F.col("__starts"), min_run
        ).alias("__e"),
    )
    untouched = F.col("__starts").isNull()
    return reb.select(
        F.col("__id").alias(id_col),
        F.when(untouched, F.col("__t"))
        .otherwise(F.col("__e.clean_text"))
        .alias("clean_text"),
        F.col("__e.n_tokens_removed").alias("n_tokens_removed"),
        F.col("__e.n_spans").alias("n_spans"),
        # the rebuild UDF already counted the tokens — kept is a free
        # subtraction for BOTH branches (no second tokenize of untouched
        # docs, no split-recount of rebuilt ones)
        (F.col("__e.n_tokens_total") - F.col("__e.n_tokens_removed"))
        .cast("int")
        .alias("n_tokens_kept"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    threshold: float = 0.5,
    group_col: str | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard for ALL pairs (optionally blocked by
    ``group_col`` to bound the quadratic blow-up — e.g. same lang).
    This is the brute-force oracle for the LSH operators; use only on
    bounded blocks."""
    sh = df.select(
        F.col(id_col).alias("__id"),
        *( [F.col(group_col).alias("__g")] if group_col else [] ),
        shingle_hashes(F.col(text_col), shingle_k).alias("__sh"),
    )
    a, b = sh.alias("a"), sh.alias("b")
    cond = F.col("a.__id") < F.col("b.__id")
    if group_col:
        cond = cond & (F.col("a.__g") == F.col("b.__g"))
    return (
        a.join(b, cond)
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.round(jaccard(F.col("a.__sh"), F.col("b.__sh")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
