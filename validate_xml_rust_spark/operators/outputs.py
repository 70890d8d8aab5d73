"""Result sinks: partitioned parquet layout for verdicts / violations /
metrics (the durable form of the reference's report, S8→tables).

Layout choices are the read-side optimization:
- verdicts partitioned by ``status`` — the overwhelmingly common read is
  "show me the failures" (reference prints only non-valid rows, P7);
  partition pruning turns that into a scan of the tiny failure partitions,
- violations partitioned by ``constraint_id`` — per-check drill-down reads
  one directory,
- metrics appended per run (the lineage ledger, operators/resume.py).

On Iceberg these become partitioned tables with snapshot commits; the
parquet layout keeps the same pruning behavior in the sandbox.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from validate_xml_rust_spark import genlog
from validate_xml_rust_spark.session import local_frame


def write_results(
    verdicts: DataFrame,
    violations: DataFrame,
    out_dir: str,
    mode: str = "overwrite",
) -> None:
    (
        verdicts.drop("violation_entries")
        .withColumn("error_details", F.concat_ws("; ", "error_details"))
        .write.mode(mode)
        .partitionBy("status")
        .parquet(f"{out_dir}/verdicts")
    )
    violations.write.mode(mode).partitionBy("constraint_id").parquet(
        f"{out_dir}/violations"
    )


def read_quarantine(spark: SparkSession, quarantine_dir: str) -> DataFrame:
    """Load a quarantine dir back as an INPUT frame for replay: the
    payload columns survive (url + whatever keep_cols rode the original
    verdicts), the stale verdict columns are dropped — a re-validation
    must re-derive them from scratch under the (possibly fixed) spec.
    The status partition column is itself a verdict and is dropped too.

    The path is refresh-listed first: the replay loop OVERWRITES the same
    dir it read, and a long-lived session's FileStatusCache would
    otherwise serve the previous generation's deleted part files."""
    spark.catalog.refreshByPath(quarantine_dir)
    q = spark.read.parquet(quarantine_dir)
    stale = {
        "status", "spec_id", "error_count", "error_details",
        "violation_entries", "revalidated", "content_fp",
    }
    keep = [c for c in q.columns if c not in stale]
    return q.select(*keep)


def shard_assignments(
    df: DataFrame,
    tokens_per_shard: int | None = None,
    n_shards: int | None = None,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    seed: str = "shards",
) -> tuple[DataFrame, int]:
    """Deterministic token-budgeted shard assignment — the last-mile step
    before training: each doc draws its md5 sampling ticket on ``id`` and
    lands in ``floor(ticket · n_shards / 2³²)``, i.e. equal-width ticket
    intervals. Assignment is therefore a stateless per-row expression:
    reproducible across runs, partitionings, retries, and engines (the
    same ticket arithmetic as curation.hash_sample), and docs never move
    between shards when UPSTREAM rows change — only when n_shards does.

    ``n_shards`` is taken directly or derived as
    ``ceil(Σ tokens / tokens_per_shard)`` (one aggregate pass; the only
    full-corpus dependence, and the reason assignment is split from the
    write — callers with a fixed layout pass n_shards and skip the pass).
    Token-balance across shards is law-of-large-numbers (each shard is a
    uniform 1/n sample of docs): at 10⁴+ docs/shard the spread is ~1%,
    with no global sort and no sequential fold.

    NULL ids draw a NULL ticket → shard 0 (kept, not dropped; route
    upstream if NULL ids need quarantining instead). Returns
    ``(df + shard_id bigint, n_shards)``.
    """
    from validate_xml_rust_spark.operators.curation import (
        TICKET_SPACE,
        sample_ticket,
    )

    if n_shards is None:
        if tokens_per_shard is None or tokens_per_shard <= 0:
            raise ValueError("pass tokens_per_shard > 0 or n_shards")
        total = df.agg(
            F.sum(F.coalesce(F.col(tokens_col), F.lit(0)).cast("long"))
        ).collect()[0][0] or 0
        n_shards = max(1, -(-int(total) // int(tokens_per_shard)))
    tick = F.coalesce(
        sample_ticket(F.col(id_col), seed), F.lit(0).cast("long")
    )
    shard = F.floor(tick * F.lit(int(n_shards)) / F.lit(TICKET_SPACE))
    return df.withColumn("shard_id", shard.cast("long")), int(n_shards)


def shard_manifest(
    sharded: DataFrame,
    tokens_per_shard: int,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    content_col: str = "text",
    seed: str = "shardsum",
) -> DataFrame:
    """Per-shard manifest for a sharded training set: doc count, token
    count, fill ratio against the budget, and an ORDER-INDEPENDENT
    content checksum — the sum of each doc's md5-derived 32-bit value of
    ``id:content`` — so a consumer (or a later re-shard) can verify a
    shard's contents without re-reading payload bytes in a fixed order.
    One hash aggregation on the uniform shard key; partials merge
    map-side, so the manifest costs one scan at any corpus size.

    Output: ``shard_id, n_docs, n_tokens, fill_ratio, content_sum`` —
    every column re-derivable in ANSI SQL (the checksum is exact-integer
    arithmetic: ≤2³² per doc, bigint-summed)."""
    from validate_xml_rust_spark.operators.curation import sample_ticket

    # F.concat (NULL-propagating) is NOT usable here: the key must stay
    # defined for NULL ids (shard_assignments keeps them, in shard 0),
    # and it must match the oracle restatement exactly — so both sides
    # coalesce id and content to '' explicitly
    doc_fp = sample_ticket(
        F.concat(
            F.coalesce(F.col(id_col).cast("string"), F.lit("")),
            F.lit(":"),
            F.coalesce(F.col(content_col).cast("string"), F.lit("")),
        ),
        seed,
    )
    return (
        sharded.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.coalesce(F.col(tokens_col), F.lit(0)).cast("long")
            ).alias("n_tokens"),
            F.sum(doc_fp).alias("content_sum"),
        )
        .withColumn(
            "fill_ratio",
            F.round(F.col("n_tokens") / F.lit(float(tokens_per_shard)), 6),
        )
        .select("shard_id", "n_docs", "n_tokens", "fill_ratio", "content_sum")
    )


def write_training_shards(
    df: DataFrame,
    out_dir: str,
    tokens_per_shard: int,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    content_col: str = "text",
    checkpoint: bool = True,
) -> DataFrame:
    """Write a curated corpus as token-budgeted training shards plus a
    manifest: ``out_dir/shards/shard_id=K/`` parquet (one file per shard
    — rows are repartitioned BY the shard column first, so the write
    does not fan every task out into every shard directory) and
    ``out_dir/manifest/`` with the per-shard summary. Rows are sorted by
    id within each shard so shard files are byte-reproducible run over
    run. Returns the manifest frame, re-read from the sink.

    Commit log (``out_dir/_log``, see ``genlog``): the write resets the
    log, records ``begin`` before the first shard byte moves and
    ``done`` after the manifest lands, so a crash in between reads as an
    open generation in ``verify_shards``.

    The input is eager-checkpointed ONCE up front: the sink needs the
    frame three times (token-sum pass for n_shards, the shards write,
    the manifest aggregation), and without the checkpoint each pass
    would re-execute the caller's full upstream lineage (the repo's
    measured multi-branch tax); all three run as block scans instead,
    and the blocks are released before returning, also when a step
    raises. Callers whose frame is ALREADY materialized (a prior
    checkpoint/persist) pass ``checkpoint=False`` to skip the second
    payload copy."""
    from validate_xml_rust_spark.ckpt import eager_checkpoint, release_blocks

    spark = df.sparkSession
    if checkpoint:
        ck, blocks = eager_checkpoint(df)
    else:
        ck, blocks = df, frozenset()
    try:
        sharded, n_shards = shard_assignments(
            ck,
            tokens_per_shard=tokens_per_shard,
            id_col=id_col,
            tokens_col=tokens_col,
        )
        genlog.reset(out_dir)
        begin = genlog.append(out_dir, {"phase": "begin"})
        (
            sharded.repartition(n_shards, F.col("shard_id"))
            .sortWithinPartitions("shard_id", id_col)
            .write.mode("overwrite")
            .partitionBy("shard_id")
            .parquet(f"{out_dir}/shards")
        )
        manifest = shard_manifest(
            sharded,
            tokens_per_shard,
            id_col=id_col,
            tokens_col=tokens_col,
            content_col=content_col,
        )
        # n_shards rides the manifest rows for consumers reading only the
        # manifest
        manifest.withColumn("n_shards", F.lit(n_shards).cast("long")).write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/manifest")
        genlog.append(out_dir, {"phase": "done", "begin": begin})
    finally:
        release_blocks(spark.sparkContext, blocks)
    spark.catalog.refreshByPath(f"{out_dir}/manifest")
    return spark.read.parquet(f"{out_dir}/manifest")



def verify_shards(
    spark: SparkSession,
    out_dir: str,
    tokens_per_shard: int,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    content_col: str = "text",
) -> DataFrame:
    """Validate a training-shard store against its own manifest — the
    reference's per-file verdict workflow (validate every file, report
    status + violation details) applied to shards as the "files": re-read
    the payload, recompute per-shard doc counts, token counts, and the
    order-independent content checksum, and emit one verdict row per
    shard: ``shard_id, status ('valid'|'invalid'|'error'), error_count,
    error_details array<string>``.

    - count/token/checksum mismatch → ``invalid`` with one detail per
      failed check (truncated files, tampered payload bytes, and
      manifest drift all surface here);
    - a shard present in the manifest but missing from the store (or
      vice versa) → ``error`` (structural, not content, failure);
    - misassigned rows (a doc sitting in a shard its ticket does not map
      to) are caught by the checksum row set, since checksums are
      recomputed per physical shard directory.

    One scan of the payload + the tiny manifest, joined full-outer on
    shard_id — at 10^12 docs this is the cheap audit you run after every
    write. Compose with ``summarize``/``exit_code`` for the CLI ladder."""
    from pyspark.errors import AnalysisException

    spark.catalog.refreshByPath(f"{out_dir}/manifest")
    spark.catalog.refreshByPath(f"{out_dir}/shards")
    manifest = spark.read.parquet(f"{out_dir}/manifest")
    try:
        payload = spark.read.parquet(f"{out_dir}/shards")
    except AnalysisException:
        # an empty store writes a manifest but no shard part files
        # (partitionBy emits nothing for zero rows) — audit it as an
        # empty payload, not a crash
        payload = local_frame(
            spark,
            f"`{id_col}` string, `{content_col}` string, "
            f"`{tokens_col}` int, shard_id long",
        )
    observed = shard_manifest(
        payload,
        tokens_per_shard,
        id_col=id_col,
        tokens_col=tokens_col,
        content_col=content_col,
    )
    m = manifest.select(
        "shard_id",
        F.col("n_docs").alias("m_docs"),
        F.col("n_tokens").alias("m_tokens"),
        F.col("content_sum").alias("m_sum"),
    )
    o = observed.select(
        "shard_id",
        F.col("n_docs").alias("o_docs"),
        F.col("n_tokens").alias("o_tokens"),
        F.col("content_sum").alias("o_sum"),
    )
    j = m.join(o, "shard_id", "full_outer")
    # commit-log check: a write BEGUN but never COMMITTED is half-applied
    # — every shard is a structural error NAMING the generation, distinct
    # from payload tampering (whose checksum detail it would otherwise be
    # indistinguishable from). The log holds one write (it resets on
    # each), so an open begin is its last record and covers the store.
    recs = genlog.records(out_dir)
    half_applied = F.lit(None).cast("string")
    if recs and recs[-1]["phase"] == "begin":
        half_applied = F.lit(
            f"shard write generation {recs[-1]['generation']} begun but "
            "never committed — half-applied write, not tampering; re-run "
            "write_training_shards"
        )
    checks = [
        (
            F.col("m_docs").isNotNull() & F.col("o_docs").isNotNull()
            & (F.col("m_docs") != F.col("o_docs")),
            F.concat(
                F.lit("n_docs: manifest="), F.col("m_docs").cast("string"),
                F.lit(" observed="), F.col("o_docs").cast("string"),
            ),
        ),
        (
            F.col("m_tokens").isNotNull() & F.col("o_tokens").isNotNull()
            & (F.col("m_tokens") != F.col("o_tokens")),
            F.concat(
                F.lit("n_tokens: manifest="), F.col("m_tokens").cast("string"),
                F.lit(" observed="), F.col("o_tokens").cast("string"),
            ),
        ),
        (
            F.col("m_sum").isNotNull() & F.col("o_sum").isNotNull()
            & (F.col("m_sum") != F.col("o_sum")),
            F.lit("content_sum: checksum mismatch"),
        ),
    ]
    details = F.filter(
        F.array(
            half_applied,
            *[F.when(cond, msg) for cond, msg in checks],
            F.when(F.col("o_docs").isNull(), F.lit("shard missing from store")),
            F.when(
                F.col("m_docs").isNull(), F.lit("shard not in manifest")
            ),
        ),
        lambda x: x.isNotNull(),
    )
    status = (
        F.when(
            half_applied.isNotNull()
            | F.col("o_docs").isNull()
            | F.col("m_docs").isNull(),
            F.lit("error"),
        )
        .when(F.size(details) > 0, F.lit("invalid"))
        .otherwise(F.lit("valid"))
    )
    return j.select(
        "shard_id",
        status.alias("status"),
        F.size(details).cast("int").alias("error_count"),
        details.alias("error_details"),
    )


def quarantine_split(
    verdicts: DataFrame,
    keep_statuses: tuple[str, ...] = ("valid", "skipped"),
    quarantine_dir: str | None = None,
    mode: str = "overwrite",
) -> tuple[DataFrame, DataFrame]:
    """Route rows by verdict — the standard validation-sink pattern: rows
    whose status is in ``keep_statuses`` continue down the pipeline
    (``clean``); the rest (``quarantined``) carry their full verdict
    (status, error_count, error_details) for inspection, repair, and
    replay, optionally written to ``quarantine_dir`` partitioned by
    status (pruned reads per failure class).

    Input is a verdicts frame from ``validate(..., keep_cols=[...])`` so
    payload columns ride ALONGSIDE the verdict — no join back to the
    source (a join-back by id drops NULL-id rows, which are precisely the
    rows most likely to be quarantined, and cross-multiplies duplicate
    ids). One narrow filter each side; the quarantine write is the only
    materialization.

    Scale shape: at 10^12 rows with a healthy corpus the quarantine side
    is the tiny fraction — the clean side never shuffles or materializes
    here, it simply continues as a filtered scan."""
    keep = F.col("status").isin(list(keep_statuses))
    clean = verdicts.filter(keep)
    quarantined = verdicts.filter(~keep)
    if quarantine_dir is not None:
        (
            quarantined.drop("violation_entries")
            .withColumn("error_details", F.concat_ws("; ", "error_details"))
            .write.mode(mode)
            .partitionBy("status")
            .parquet(quarantine_dir)
        )
    return clean, quarantined
