"""The benchmark's workloads: seeded inputs, the public-API chain each
iteration runs, the output checks, and the traced per-layer breakdown.

A workload's chain starts at the parquet scan and ends when its results
are durable in the sink directory. Checks read the sink back with DuckDB,
an engine independent of the one under test.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import contextmanager

import duckdb
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench.tracing import MB, Tracer, dir_stats, tree_stage_total
from validate_xml_rust_spark import ckpt
from validate_xml_rust_spark import pipeline as pipeline_mod
from validate_xml_rust_spark.operators import dedup as dedup_mod
from validate_xml_rust_spark.operators import drift as drift_mod
from validate_xml_rust_spark.operators.curation import redact_pii
from validate_xml_rust_spark.operators.hostquality import host_quality_violations
from validate_xml_rust_spark.operators.orchestrate import validate_full
from validate_xml_rust_spark.operators.outputs import write_results
from validate_xml_rust_spark.operators.resume import (
    content_fingerprint,
    incremental_verdicts,
)
from validate_xml_rust_spark.operators.uniqueness import uniqueness_violations
from validate_xml_rust_spark.operators.validate import validate
from validate_xml_rust_spark.pipeline import curate, preset_kwargs
from validate_xml_rust_spark.sources import corpus as corpus_mod
from validate_xml_rust_spark.sources import pages as pages_mod
from validate_xml_rust_spark.specs import Constraint, Spec, SpecRegistry

INPUT_PARTITIONS = 6  # two parquet files per task slot

def force(df) -> None:
    """Evaluate every column of ``df``: xor of per-row hashes. ``count()``
    would let the optimizer prune the projected work."""
    df.agg(F.bit_xor(F.xxhash64(F.struct(*df.columns)))).collect()


@contextmanager
def patched(module, name: str, wrapper):
    """Swap ``module.name`` for ``wrapper(original)`` for the block."""
    orig = getattr(module, name)
    setattr(module, name, wrapper(orig))
    try:
        yield
    finally:
        setattr(module, name, orig)


class CheckFailed(Exception):
    pass


class Workload:
    name = ""
    docs = 0
    stable_shuffle = True  # shuffle records repeat exactly across iterations

    def __init__(self, spark, work_dir: str, seed: int) -> None:
        self.spark, self.work, self.seed = spark, work_dir, seed
        self.input = os.path.join(work_dir, "input")
        self.first: dict | None = None  # check summary of the first iteration
        self.db = duckdb.connect(config={"threads": 2})

    # -- inputs -----------------------------------------------------------
    def frame(self, n: int):
        raise NotImplementedError

    def generate(self) -> float:
        """Write the seeded input table; returns the seconds it took."""
        shutil.rmtree(self.input, ignore_errors=True)
        t0 = time.perf_counter()
        self.frame(self.docs).write.parquet(self.input)
        return time.perf_counter() - t0

    def prepare(self) -> None:
        """Untimed work on the final inputs (expected results)."""

    # -- one iteration ------------------------------------------------------
    def chain(self, out_dir: str, tracer: Tracer | None):
        """Run the chain into ``out_dir``; returns a release callback."""
        raise NotImplementedError

    def summarize(self, out_dir: str) -> dict:
        raise NotImplementedError

    def check(self, out_dir: str) -> dict:
        """Read the sink back, compare with the expectation and with the
        first iteration; raises CheckFailed on a mismatch."""
        got = self.summarize(out_dir)
        if self.first is None:
            self.first = got
        elif got != self.first:
            raise CheckFailed(f"output differs from the first iteration: {got} != {self.first}")
        return got

    def after_traced(self, tracer: Tracer, layers: dict) -> None:
        """Extra layer probes while a traced iteration's results are live."""

    def decompose(self, tracer: Tracer, layers: dict) -> None:
        """Per-layer forcing runs after the timed loop (traced mode only)."""

    def traced_layers(self, tracer: Tracer, iterations: list[int], layers: dict) -> None:
        """Per-layer metrics from the spans of the traced iterations."""

    def _q(self, sql: str) -> list[tuple]:
        return self.db.execute(sql).fetchall()


# ---------------------------------------------------------------------------
# validate_pages
# ---------------------------------------------------------------------------

ROW_CHECKS = (
    Constraint("url_not_null", "url", "not_null"),
    Constraint("url_format", "url", "regex", {"pattern": r"^https?://.*"}),
    Constraint(
        "warc_ts_range", "warc_ts", "range",
        {"lo": "2025-01-01 00:00:00", "hi": "2026-01-01 00:00:00"},
    ),
    Constraint("html_utf8", "html", "utf8", severity="error"),
    Constraint("html_len", "html", "length", {"lo": 1, "hi": 100_000}),
    Constraint("lang_enum", "lang", "isin", {"values": pages_mod.LANGS}),
)
TABLE_CHECKS = (
    Constraint("uq_url", "url", "unique"),
    Constraint("hq_host", "host", "host_quality",
               {"min_mean_quality": 0.6, "min_docs": 10}),
    Constraint("vocab_drift", "text", "drift", {"test": "vocab"}),
)
TS_LO, TS_HI = 1735689600, 1767225600  # the warc_ts_range bounds, epoch s
# every column a row check reads: rows with equal fingerprints get equal verdicts
FP_COLS = ["url", "warc_ts", "html", "text", "lang"]


def _utf8_ok(b: bytes | None) -> bool:
    if b is None:
        return True
    try:
        b.decode("utf-8")
    except UnicodeDecodeError:
        return False
    return True


class ValidatePages(Workload):
    """The paper's job: per-row verdicts plus violation rows over a pages
    table, with the flagship's six row checks and three table checks."""

    name = "validate_pages"
    docs = 100_000

    def __init__(self, spark, work_dir, seed) -> None:
        super().__init__(spark, work_dir, seed)
        self.registry = SpecRegistry().add(
            Spec("webpage-v1", ROW_CHECKS + TABLE_CHECKS),
            route_keys=pages_mod.LANGS,
        )
        self.expected: dict = {}

    def frame(self, n: int):
        pages_mod.SEED = self.seed
        return pages_mod.pages(self.spark, n, INPUT_PARTITIONS)

    def scan(self):
        df = pages_mod.with_partition_id(self.spark.read.parquet(self.input))
        return df.withColumn("host", F.parse_url(F.col("url"), F.lit("HOST")))

    def scoped(self, df):
        """The rows the spec governs: what validate_full hands each
        table check."""
        return df.filter(F.col("lang").isin(pages_mod.LANGS))

    def prepare(self) -> None:
        """Restate the row verdicts and the url-uniqueness check in DuckDB
        over the input parquet (UTF-8 validity is decoded in Python)."""
        # one chunk per column, so the appended column lines up row by row
        tbl = pq.read_table(
            self.input, columns=["url", "warc_ts", "html", "lang"]
        ).combine_chunks()
        ok = [_utf8_ok(b) for b in tbl.column("html").to_pylist()]
        self.db.register("pages", tbl.append_column("html_ok", [ok]))
        langs = ",".join(f"'{x}'" for x in pages_mod.LANGS)
        self.db.execute(f"""
            CREATE OR REPLACE TEMP VIEW checked AS
            SELECT url, lang IN ({langs}) AND lang IS NOT NULL AS routed,
              url IS NULL AS url_not_null,
              url IS NOT NULL AND NOT regexp_matches(url, '^https?://.*') AS url_format,
              warc_ts IS NOT NULL AND (epoch(warc_ts) < {TS_LO}
                OR epoch(warc_ts) > {TS_HI}) AS warc_ts_range,
              html IS NOT NULL AND NOT html_ok AS html_utf8,
              html IS NOT NULL AND (octet_length(html) < 1
                OR octet_length(html) > 100000) AS html_len
            FROM pages""")
        status = self._q("""
            SELECT CASE WHEN NOT routed THEN 'skipped'
                        WHEN html_utf8 THEN 'error'
                        WHEN url_not_null OR url_format OR warc_ts_range
                             OR html_len THEN 'invalid'
                        ELSE 'valid' END AS s, count(*)
            FROM checked GROUP BY s""")
        cons = {}
        for c in ("url_not_null", "url_format", "warc_ts_range", "html_utf8", "html_len"):
            cons[c] = self._q(f"SELECT count(*) FROM checked WHERE routed AND {c}")[0][0]
        cons["uq_url"] = self._q("""
            WITH r AS (SELECT url FROM checked WHERE routed AND url IS NOT NULL)
            SELECT count(*) FROM r WHERE url IN
              (SELECT url FROM r GROUP BY url HAVING count(*) > 1)""")[0][0]
        self.expected = {
            "status": {s: n for s, n in status},
            "constraints": {c: n for c, n in cons.items() if n},
        }

    def chain(self, out_dir, tracer):
        if tracer is None:
            return self._chain(out_dir)
        reg = self.registry
        reg.compiled = tracer.wrap("specs.compile", SpecRegistry.compiled.__get__(reg))
        try:
            with patched(drift_mod, "vocab_drift",
                         lambda f: tracer.wrap("drift.vocab_drift", f)):
                return self._chain(out_dir, tracer)
        finally:
            del reg.compiled

    def _chain(self, out_dir, tracer=None):
        wrap = tracer.wrap if tracer else (lambda _n, f: f)
        res = wrap("orchestrate.validate_full", validate_full)(
            self.scan(), self.spark, self.registry
        )
        wrap("outputs.write_results", write_results)(
            res.row_result.verdicts, res.all_violations(), out_dir
        )
        return res.release

    def summarize(self, out_dir):
        status = self._q(f"""
            SELECT status, count(*) FROM read_parquet(
              '{out_dir}/verdicts/*/*.parquet', hive_partitioning = 1)
            GROUP BY status""")
        cons = self._q(f"""
            SELECT constraint_id, count(*) FROM read_parquet(
              '{out_dir}/violations/*/*.parquet', hive_partitioning = 1)
            GROUP BY constraint_id""")
        return {"status": dict(status), "constraints": dict(cons)}

    def check(self, out_dir):
        got = super().check(out_dir)
        table_ids = {c.constraint_id for c in TABLE_CHECKS} - {"uq_url"}
        restated = {
            "status": got["status"],
            "constraints": {c: n for c, n in got["constraints"].items()
                            if c not in table_ids},
        }
        if restated != self.expected:
            raise CheckFailed(f"verdicts {restated} != DuckDB restatement {self.expected}")
        return got

    # -- traced mode ------------------------------------------------------------
    def traced_layers(self, tracer, iterations, layers):
        compile_ms, plan_ms = [], []
        for it in iterations:
            spans = [(i, s) for i, s in enumerate(tracer.spans) if s.iteration == it]
            compile_ms.append(1000 * sum(s.seconds for _, s in spans if s.name == "specs.compile"))
            plan_ms.extend(1000 * tracer.self_seconds(i) for i, s in spans
                           if s.name == "orchestrate.validate_full")
        layers["specs.compile_ms"] = statistics.median(compile_ms)
        layers["orchestrate.plan_ms"] = statistics.median(plan_ms)

    def decompose(self, tracer, layers):
        spark = self.spark
        df = self.scan()
        scoped = self.scoped(df)

        def span(name, fn):
            with tracer.span(name) as sp:
                fn()
            return len(tracer.spans) - 1, sp

        _, scan = span("sources.scan", lambda: force(self.scan()))
        layers["sources.scan_s"] = scan.seconds
        layers["sources.input_mb"] = dir_stats(self.input)[0] / MB

        res = validate(df, spark, self.registry)
        _, sp = span("validate", lambda: force(res.verdicts))
        layers["validate.busy_s"] = sp.seconds - scan.seconds
        layers["validate.violation_rows"] = sum(
            n for c, n in self.first["constraints"].items()
            if c in {x.constraint_id for x in ROW_CHECKS}
        )
        i, sp = span("uniqueness", lambda: force(
            uniqueness_violations(scoped, ["url"], constraint_id="uq_url")))
        layers["uniqueness.busy_s"] = sp.seconds - scan.seconds
        layers["uniqueness.shuffle_records"] = tree_stage_total(tracer, i, "shuffle_write_records")
        i, sp = span("hostquality", lambda: force(host_quality_violations(
            scoped, group_col="host", constraint_id="hq_host",
            min_mean_quality=0.6, min_docs=10)))
        layers["hostquality.busy_s"] = sp.seconds - scan.seconds
        layers["hostquality.shuffle_records"] = tree_stage_total(tracer, i, "shuffle_write_records")
        handles: dict = {}
        _, sp = span("drift", lambda: force(drift_mod.drift_violations(
            drift_mod.vocab_drift(scoped, "text", "partition_id", handles=handles))))
        ckpt.release_blocks(spark.sparkContext, handles.get("ckpt_block_ids", frozenset()))
        layers["drift.busy_s"] = sp.seconds - scan.seconds

        # the sink alone: write already-materialized results
        full = validate_full(df, spark, self.registry)
        verdicts, v_ids = ckpt.eager_checkpoint(full.row_result.verdicts)
        viol, w_ids = ckpt.eager_checkpoint(full.all_violations())
        out = os.path.join(self.work, "decompose_out")
        _, sp = span("outputs", lambda: write_results(verdicts, viol, out))
        layers["outputs.busy_s"] = sp.seconds
        layers["outputs.files"] = dir_stats(out)[1]
        shutil.rmtree(out, ignore_errors=True)
        full.release()
        ckpt.release_blocks(spark.sparkContext, v_ids | w_ids)
        self._resume_layer(tracer, span, scan, layers)

    def _resume_layer(self, tracer, span, scan, layers):
        """Re-validation of the same snapshot against a prior verdict store
        that covers a seeded 75% of urls: the carried-forward verdicts must
        equal a full validate() of the snapshot."""
        spark = self.spark
        row_reg = SpecRegistry().add(Spec("webpage-v1", ROW_CHECKS),
                                     route_keys=pages_mod.LANGS)
        prior_dir = os.path.join(self.work, "prior")
        df = self.scan()
        covered = df.filter(F.pmod(F.xxhash64("url", F.lit(self.seed)), F.lit(4)) != 0)
        prior_v = validate(
            covered.withColumn("content_fp", content_fingerprint(FP_COLS)),
            spark, row_reg, keep_cols=["content_fp"],
        ).verdicts
        prior_v.select("url", "content_fp", "spec_id", "status", "error_count") \
            .write.parquet(prior_dir)
        prior = spark.read.parquet(prior_dir)
        _, prior_scan = span("sources.scan_prior", lambda: force(prior))
        inc = incremental_verdicts(self.scan(), spark.read.parquet(prior_dir), spark,
                                   row_reg, FP_COLS, full_output=True)
        i, sp = span("resume", lambda: force(inc))
        layers["resume.busy_s"] = sp.seconds - scan.seconds - prior_scan.seconds
        layers["resume.shuffle_records"] = tree_stage_total(tracer, i, "shuffle_write_records")
        got_dir, want_dir = (os.path.join(self.work, d) for d in ("inc", "full"))
        inc.select("url", "status", "error_count", "revalidated").write.parquet(got_dir)
        validate(self.scan(), spark, row_reg).verdicts.select(
            "url", "status", "error_count").write.parquet(want_dir)
        got = f"SELECT url, status, error_count FROM '{got_dir}/*.parquet'"
        want = f"SELECT * FROM '{want_dir}/*.parquet'"
        diff = self._q(f"SELECT count(*) FROM ({got} EXCEPT ALL {want})")[0][0] + \
            self._q(f"SELECT count(*) FROM ({want} EXCEPT ALL {got})")[0][0]
        if diff:
            raise CheckFailed(f"{diff} incremental verdicts differ from a full validate()")
        layers["resume.reuse_ratio"] = self._q(
            f"SELECT avg((NOT revalidated)::DOUBLE) FROM '{got_dir}/*.parquet'")[0][0]
        for d in (got_dir, want_dir):
            shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(prior_dir, ignore_errors=True)


# ---------------------------------------------------------------------------
# curate_dolma
# ---------------------------------------------------------------------------

# curate() materializes these steps one checkpoint each; the steps between
# them are fused into one checkpoint per run of consecutive steps
LOGGED_STEPS = {"exact_dedup", "near_dedup"}
SEGMENT_NAMES = {"normalize": "normalize_seg", "c4_clean": "quality_seg"}


class CurateDolma(Workload):
    """The curation user's job: the Dolma preset over prose documents with
    planted exact and near duplicates, kept docs written to parquet."""

    name = "curate_dolma"
    docs = 4_000
    # about half the iterations run one more exchange over the shingled
    # rows (NOTES.md, "Noise")
    stable_shuffle = False

    def frame(self, n):
        corpus_mod.SEED = self.seed
        return corpus_mod.prose_documents(self.spark, n, INPUT_PARTITIONS)

    def scan(self):
        return self.spark.read.parquet(self.input)

    def chain(self, out_dir, tracer):
        if tracer is None:
            return self._chain(out_dir)
        self._steps = None
        with patched(pipeline_mod, "eager_checkpoint",
                     lambda f: tracer.wrap("pipeline.checkpoint", f)), \
             patched(dedup_mod, "near_dedup",
                     lambda f: tracer.wrap("dedup.near_dedup", f)), \
             patched(ckpt, "eager_checkpoint",
                     lambda f: tracer.wrap("ckpt.eager_checkpoint", f)):
            return self._chain(out_dir, tracer)

    def _chain(self, out_dir, tracer=None):
        wrap = tracer.wrap if tracer else (lambda _n, f: f)
        res = wrap("pipeline.curate", curate)(
            self.scan(), self.spark, **preset_kwargs("dolma"))
        wrap("outputs.write", res.kept.write.parquet)(out_dir)
        self._result = res
        return res.release

    def summarize(self, out_dir):
        n, distinct, digest = self._q(f"""
            SELECT count(*), count(DISTINCT text),
                   bit_xor(hash(doc_id, text)) FROM '{out_dir}/*.parquet'""")[0]
        if n != distinct:
            raise CheckFailed(f"{n - distinct} kept rows repeat another kept row's text")
        return {"kept": n, "digest": int(digest)}

    def after_traced(self, tracer, layers):
        """PII redaction alone, over the kept rows (a scan of checkpoint
        blocks), so the fused quality segment can be split."""
        kept = self._result.kept
        with tracer.span("pipeline.kept_scan") as base:
            force(kept)
        with tracer.span("pipeline.pii_redact") as sp:
            force(redact_pii(kept, "text", out_col="text"))
        layers.setdefault("_pii", []).append(sp.seconds - base.seconds)

    def traced_layers(self, tracer, iterations, layers):
        per: dict[str, list[float]] = {}
        steps = self._result.report["steps"]
        for it in iterations:
            spans = [(i, s) for i, s in enumerate(tracer.spans) if s.iteration == it]
            ckpts = [s for _, s in spans if s.name == "pipeline.checkpoint"]
            segments = _segments([s["step"] for s in steps])
            if len(segments) != len(ckpts):
                raise CheckFailed(f"{len(ckpts)} step checkpoints for segments {segments}")
            for seg, sp in zip(segments, ckpts):
                per.setdefault(seg, []).append(sp.seconds)
            nd = sum(s.seconds for _, s in spans if s.name == "dedup.near_dedup")
            per["near_dedup_call"] = per.get("near_dedup_call", []) + [nd]
            root = next(i for i, s in spans if s.name == "pipeline.curate")
            per.setdefault("count", []).append(tracer.self_seconds(root))
            per.setdefault("outputs", []).extend(
                s.seconds for _, s in spans if s.name == "outputs.write")
            per.setdefault("checkpoints", []).append(
                sum(1 for _, s in spans if "checkpoint" in s.name))
        med = {k: statistics.median(v) for k, v in per.items()}
        pii = statistics.median(layers.pop("_pii"))
        layers["pipeline.normalize_seg.busy_s"] = med["normalize_seg"]
        layers["pipeline.exact_dedup.busy_s"] = med["exact_dedup"]
        layers["pipeline.near_dedup.busy_s"] = med["near_dedup"] + med["near_dedup_call"]
        layers["pipeline.quality_seg.busy_s"] = med["quality_seg"] - pii
        layers["pipeline.pii_redact.busy_s"] = pii
        layers["pipeline.count_s"] = med["count"]
        layers["pipeline.kept_rows"] = self.first["kept"]
        layers["ckpt.checkpoints"] = med["checkpoints"]
        layers["outputs.busy_s"] = med["outputs"]

    def decompose(self, tracer, layers):
        with tracer.span("sources.scan") as scan:
            force(self.scan())
        layers["sources.scan_s"] = scan.seconds
        layers["sources.input_mb"] = dir_stats(self.input)[0] / MB


def _segments(step_names: list[str]) -> list[str]:
    """Checkpoint segments of a curate() run, in order: each logged step is
    its own segment; consecutive fused steps share one, named after its
    first step."""
    segs: list[str] = []
    fused = False
    for s in step_names:
        if s in LOGGED_STEPS:
            segs.append(s)
            fused = False
        elif not fused:
            segs.append(SEGMENT_NAMES.get(s, s))
            fused = True
    return segs


WORKLOADS = {w.name: w for w in (ValidatePages, CurateDolma)}
