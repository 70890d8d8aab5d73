"""CLI entry point — the engine's ``validate-xml <path>`` analog
(reference src/main.rs + src/cli.rs; lifecycle traced in SURVEY.md §3.1).

    python -m validate_xml_rust_spark PATH [options]

Lifecycle mirrors the reference: parse+validate args (exit 1 on config
error) → build services (session, spec registry/cache) → discovery
(scan + filters) → validation (spec routing → compiled row checks, plus
the spec's table checks over the whole input) → aggregation → report →
exit code (0 all-valid/skipped, 1 fail-fast, 2 errors, 3 invalid rows or
table violations — src/main.rs:113-119). Every mode shares one tail
after the row verdicts: checkpoint, ``write_results``, summary, manifest
commit, store update, report, exit code.
"""

from __future__ import annotations

import argparse
import sys
import time


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="validate_xml_rust_spark",
        description="PySpark-native schema + constraint validation engine",
    )
    p.add_argument("path", help="input directory of pages parquet (or synth:N for N synthetic docs)")
    p.add_argument("--spec", help="global spec override: path/URL of a spec JSON (--schema analog)")
    p.add_argument("--route-mode", choices=["content", "column"], default="content")
    p.add_argument("--route-col", default="lang")
    p.add_argument("--threads", type=int, default=None, help="executor threads (default: all cores)")
    p.add_argument("--include", action="append", default=[], help="include glob (repeatable)")
    p.add_argument("--exclude", action="append", default=[], help="exclude glob (repeatable)")
    p.add_argument(
        "--extension", action="append", default=[],
        help="keep only urls with this extension (repeatable; the reference's "
             "--extension xml analog, applied to the url path)",
    )
    p.add_argument("--fail-fast", action="store_true")
    p.add_argument("--verbosity", "-v", action="count", default=0)
    p.add_argument("--quiet", "-q", action="store_true")
    p.add_argument(
        "--output",
        help="write verdicts (partitioned by status) and row + table "
             "violations (partitioned by constraint_id) parquet under this dir",
    )
    p.add_argument(
        "--quarantine",
        help="write non-valid rows (verdict + full payload — repair/replay "
             "ready) to this dir, partitioned by status; nothing is "
             "written when no rows fail. With --prior, carried-forward "
             "rows keep their status but not detail strings (the store "
             "holds the verdict triple) — full error_details appear only "
             "for the re-validated delta",
    )
    p.add_argument("--cache-dir", help="spec cache dir (TTL disk cache)")
    p.add_argument("--partitions", type=int, default=32)
    p.add_argument(
        "--manifest",
        help="resume manifest dir: skip partitions already committed there; "
             "commit this run's completed partitions as a new snapshot "
             "generation (the reference's disk-cache resume, S9/J2, at "
             "table scale)",
    )
    p.add_argument(
        "--run-id",
        help="lineage run id recorded in the manifest (default: cli-<epoch>)",
    )
    p.add_argument(
        "--prior",
        help="row-level snapshot-diff dir: carry forward verdicts for rows "
             "whose (url, content-fingerprint) match this prior store; "
             "re-validate only the delta, then replace the store with this "
             "run's verdicts (the reference's mtime+hash cache skip, "
             "src/cache.rs:139-316, at row granularity)",
    )
    p.add_argument(
        "--shards",
        help="write the VALID rows as token-budgeted training shards with "
             "a checksummed manifest under this dir (the curation last "
             "mile, off the validation verdicts); full runs only — not "
             "composable with --prior/--replay, whose verdicts cover a "
             "subset of the corpus",
    )
    p.add_argument(
        "--shard-tokens", type=int, default=1_000_000,
        help="token budget per training shard for --shards "
             "(tokens = text length)",
    )
    p.add_argument(
        "--verify-shards",
        action="store_true",
        help="treat PATH as a training-shard store written by --shards: "
             "re-read the payload, recompute counts and checksums "
             "against the manifest, report per-shard verdicts, and exit "
             "by the standard ladder (0 all-valid, 2 structural drift, "
             "3 content mismatch) — the reference's validate-every-file "
             "workflow over shards as the files",
    )
    p.add_argument(
        "--blocked-domains",
        help="UT1-style domain blocklist file (one registered domain per "
             "line, # comments): drop rows whose url host equals or is a "
             "subdomain of any entry, BEFORE validation (the C4/"
             "RefinedWeb blocked-domain step)",
    )
    p.add_argument(
        "--robots-domains",
        help="robots-disallow registry file (same format): drop "
             "robots-excluded hosts before validation; composes with "
             "--blocked-domains (exclude wins, like --exclude globs)",
    )
    p.add_argument(
        "--license-allow",
        help="comma-separated CC license ids (e.g. cc-by-4.0,cc0-1.0): "
             "keep only pages whose html carries one of them "
             "(rel=license / creativecommons.org URL detection; html "
             "decoded only where valid UTF-8)",
    )
    p.add_argument(
        "--redact-pii",
        action="store_true",
        help="rewrite the text column with PII class tokens (<EMAIL> / "
             "<IP> / <PHONE>, curation.redact_pii) before validation — "
             "rows are kept, bytes change",
    )
    p.add_argument(
        "--datasheet",
        help="write the corpus datasheet (composition summary parquet: "
             "corpus/lang/host sections + length percentiles) of the "
             "scanned input under this dir",
    )
    p.add_argument(
        "--replay",
        action="store_true",
        help="treat PATH as a quarantine dir written by --quarantine: "
             "re-validate its payload rows under the CURRENT spec (the "
             "repair loop — fix the spec, replay the failures), "
             "re-quarantine rows that still fail (--quarantine may point "
             "back at the same dir), and with --prior UPDATE the verdict "
             "store with the replayed verdicts — never carry the stale "
             "failing verdicts forward (the content didn't change; the "
             "spec did). The reference analog: re-running failed files "
             "after fixing a schema",
    )
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    # --- semantic arg validation (exit 1 = config error, src/cli.rs:170-184)
    from pathlib import Path

    synth_n = None
    if args.path.startswith("synth:"):
        synth_n = int(args.path.split(":", 1)[1])
    elif not Path(args.path).exists():
        print(f"Path does not exist: {args.path}", file=sys.stderr)
        return 1
    if args.threads is not None and args.threads <= 0:
        print("--threads must be > 0", file=sys.stderr)
        return 1
    if args.shards and (args.prior or args.replay):
        print(
            "--shards needs a full-corpus run: it OVERWRITES the shard "
            "store, but --prior/--replay runs validate only a "
            "delta/quarantine subset — resharding from those would "
            "silently delete previously-sharded training data",
            file=sys.stderr,
        )
        return 1
    # (--manifest composes on a FRESH manifest — the full corpus is
    # pending; a RESUMED run is rejected below once pending is known)
    if args.verify_shards and synth_n is not None:
        print("--verify-shards needs a shard-store PATH", file=sys.stderr)
        return 1
    if args.shard_tokens <= 0:
        print("--shard-tokens must be > 0", file=sys.stderr)
        return 1

    from pyspark.sql import functions as F

    from validate_xml_rust_spark import get_spark
    from validate_xml_rust_spark.operators.report import report
    from validate_xml_rust_spark.operators.summary import exit_code, summarize
    from validate_xml_rust_spark.operators.validate import validate
    from validate_xml_rust_spark.session import local_frame
    from validate_xml_rust_spark.sources.pages import LANGS, pages, with_partition_id
    from validate_xml_rust_spark.sources.scan import glob_filters, read_pages_dir
    from validate_xml_rust_spark.specs import Constraint, Spec, SpecRegistry

    spark = get_spark(app_name="vxrs-cli", cpus=args.threads)

    # --- shard-store audit mode: PATH is a --shards dir; no validation
    # pipeline runs — the manifest IS the spec and the shards the files
    if args.verify_shards:
        from pyspark.errors import AnalysisException

        from validate_xml_rust_spark.operators.outputs import verify_shards

        try:
            # existence probe only — "is this a shard store at all?"
            spark.read.parquet(f"{args.path}/manifest")
        except AnalysisException as e:  # not a store → config error
            print(
                f"Not a training-shard store (no readable manifest under "
                f"{args.path}): {getattr(e, 'desc', e)}",
                file=sys.stderr,
            )
            return 1
        # the audit itself runs unguarded: a runtime failure (corrupt
        # part file, executor loss) is a real error and must surface as
        # one, not masquerade as a usage mistake.
        # O(n_shards) rows — collect once, no second Spark pass
        rows = verify_shards(
            spark, args.path, args.shard_tokens, id_col="url"
        ).collect()
        srow = {
            "total": len(rows),
            "valid": sum(r["status"] == "valid" for r in rows),
            "invalid": sum(r["status"] == "invalid" for r in rows),
            "error": sum(r["status"] == "error" for r in rows),
            "skipped": 0,
        }
        if not args.quiet:
            for r in sorted(
                (r for r in rows if r["status"] != "valid"),
                key=lambda r: r["shard_id"],
            ):
                print(
                    f"shard {r['shard_id']}: {r['status']} — "
                    + "; ".join(r["error_details"])
                )
            print(
                f"{srow['valid']}/{srow['total']} shards valid, "
                f"{srow['invalid']} invalid, {srow['error']} structural"
            )
        return exit_code(srow, fail_fast=args.fail_fast)

    # --- registry: default webpage spec; --spec loads+overrides (J1 + S6/S7)
    registry = SpecRegistry().add(
        Spec(
            "webpage-v1",
            (
                Constraint("url_not_null", "url", "not_null"),
                Constraint("url_format", "url", "regex", {"pattern": r"^https?://.*"}),
                Constraint("html_utf8", "html", "utf8", severity="error"),
                Constraint("html_len", "html", "length", {"lo": 1, "hi": 10_000_000}),
                Constraint("lang_enum", "lang", "isin", {"values": LANGS}),
            ),
        ),
        route_keys=LANGS,
    )
    override_id = None
    cache = None
    if args.spec:
        from validate_xml_rust_spark.sources.spec_loader import (
            SpecCache,
            SpecLoadError,
            load_spec,
        )

        cache = SpecCache(args.cache_dir) if args.cache_dir else None
        try:
            spec = load_spec(args.spec, cache=cache)
        except SpecLoadError as e:
            print(f"Failed to load spec: {e}", file=sys.stderr)
            return 1
        registry.add(spec)
        override_id = spec.spec_id
    # the CLI has no way to pass reference tables or drift baselines:
    # refuse a table constraint that needs one rather than drop it
    from validate_xml_rust_spark.operators.orchestrate import context_needs

    needs = context_needs(registry)
    if needs:
        print("Cannot run from the CLI: " + "; ".join(needs), file=sys.stderr)
        return 1

    # --- discovery phase (S1-S3)
    from validate_xml_rust_spark.operators.metrics import PhaseTracker, run_metrics_row

    phases = PhaseTracker().start("discovery")
    t0 = time.perf_counter()
    if args.replay:
        if synth_n is not None:
            print("--replay needs a quarantine dir PATH", file=sys.stderr)
            return 1
        from validate_xml_rust_spark.operators.outputs import read_quarantine

        try:
            df = read_quarantine(spark, args.path)
        except Exception as e:
            print(f"Failed to read quarantine dir: {e}", file=sys.stderr)
            return 1
    elif synth_n is not None:
        df = pages(spark, synth_n)
    else:
        df = read_pages_dir(spark, args.path)
    df = glob_filters(df, include=args.include or None, exclude=args.exclude or None)
    if args.extension:
        from validate_xml_rust_spark.sources.scan import extension_filter

        df = extension_filter(df, args.extension)

    def _domain_file(path: str):
        try:
            lines = Path(path).read_text().splitlines()
        except OSError as e:
            print(f"Cannot read domain list: {e}", file=sys.stderr)
            return None
        domains = [
            ln.strip() for ln in lines
            if ln.strip() and not ln.lstrip().startswith("#")
        ]
        return local_frame(spark, "domain string", {"domain": domains})

    # crawl-side policy BEFORE validation (the cheapest filters first —
    # same position pipeline.curate gives them)
    if args.blocked_domains:
        from validate_xml_rust_spark.functions.urlnorm import (
            domain_blocklist_filter,
        )

        bl = _domain_file(args.blocked_domains)
        if bl is None:
            return 1
        df = domain_blocklist_filter(df, bl, url_col="url")
    if args.robots_domains:
        from validate_xml_rust_spark.functions.urlnorm import (
            robots_exclusion_filter,
        )

        rb = _domain_file(args.robots_domains)
        if rb is None:
            return 1
        df = robots_exclusion_filter(df, rb, url_col="url")
    if args.license_allow:
        if "html" not in df.columns:
            print("--license-allow needs an html column", file=sys.stderr)
            return 1
        from validate_xml_rust_spark.operators.textstats import (
            LICENSE_COLUMNS,
            license_signals,
        )

        allow = tuple(
            t.strip() for t in args.license_allow.split(",") if t.strip()
        )
        # binary html: decode ONLY where valid UTF-8 (Spark 4 decode
        # THROWS on malformed bytes — the repo rule); undecodable pages
        # carry no detectable license and are dropped by the allow gate
        lic_src = df.withColumn(
            "__lic_html",
            F.expr(
                "CASE WHEN html IS NOT NULL AND is_valid_utf8(html) "
                "THEN decode(html, 'UTF-8') END"
            ) if dict(df.dtypes).get("html") == "binary" else F.col("html"),
        )
        df = (
            license_signals(lic_src, "__lic_html", allow=allow)
            .filter(F.col("license_ok"))
            .drop(*LICENSE_COLUMNS, "__lic_html")
        )
    if args.redact_pii:
        if "text" not in df.columns:
            print("--redact-pii needs a text column", file=sys.stderr)
            return 1
        from validate_xml_rust_spark.operators.curation import redact_pii

        df = redact_pii(df, "text", out_col="text").drop(
            "n_email", "n_ip", "n_phone"
        )
    df = with_partition_id(df, args.partitions)

    # --- resume: restrict to partitions not yet in the manifest (S9/J2).
    # NOT in --replay: the quarantine rows come from partitions the
    # original run already committed, so the resume filter would drop
    # EVERY row and report a (false) clean exit; symmetrically, replay
    # never COMMITS to the manifest below — its partition metrics cover
    # only the quarantine subset and would mark those partitions
    # completed for later full runs.
    resumed = False
    if args.manifest and args.replay:
        if not args.quiet:
            print("--manifest is ignored in --replay mode (quarantine rows "
                  "belong to already-committed partitions)")
    if args.manifest and not args.replay:
        from validate_xml_rust_spark.operators.resume import (
            completed_partitions,
            pending_against,
        )

        done = completed_partitions(spark, args.manifest)
        # "already committed" is only a true statement when a manifest
        # actually existed AND recorded partitions — a first run against a
        # missing/empty manifest with zero input must report "no documents"
        if done is not None and done.limit(1).count() > 0:
            df = pending_against(df, done)
            resumed = True

    # --shards × resumed --manifest: the pending subset is NOT the
    # corpus; resharding from it would overwrite the store with a
    # fragment. A fresh manifest (nothing committed yet) composes fine.
    if args.shards and resumed:
        print(
            "--shards with a RESUMED --manifest run would overwrite the "
            "shard store with only the pending partitions; re-shard from "
            "a full run (or a fresh manifest)",
            file=sys.stderr,
        )
        return 1
    # table-scope constraints judge the whole table; a replay or a resumed
    # run validates a subset of it (a no-op resume validates nothing)
    if any(spec.table_constraints() for spec in registry.specs.values()) and (
        args.replay or (resumed and df.limit(1).count() > 0)
    ):
        print(
            "Table-scope constraints need the whole table, but --replay and "
            "a RESUMED --manifest run validate only a subset",
            file=sys.stderr,
        )
        return 1

    # --- corpus datasheet of the scanned input (pre-validation
    # composition — what went IN, before any verdict routing). BEFORE
    # the empty-input short-circuit so a genuinely empty corpus writes
    # an empty (readable) datasheet per the operator's contract — but a
    # NO-OP RESUME (everything already committed) must not clobber the
    # datasheet the original full run published.
    if args.datasheet and not (resumed and df.limit(1).count() == 0):
        from validate_xml_rust_spark.operators.profile import corpus_datasheet

        if "text" not in df.columns:
            print(
                "--datasheet requires a text column in the input",
                file=sys.stderr,
            )
            return 1
        gcols = tuple(c for c in ("lang",) if c in df.columns)
        dsf = df
        if "host" in df.columns:
            gcols = gcols + ("host",)
        elif "url" in df.columns:
            # the section is named after the column — use the public
            # name, never an internal dunder
            dsf = df.withColumn("host", F.parse_url("url", F.lit("HOST")))
            gcols = gcols + ("host",)
        corpus_datasheet(dsf, group_cols=gcols).write.mode(
            "overwrite"
        ).parquet(args.datasheet)
        if not args.quiet:
            print(f"Datasheet written to {args.datasheet}")

    # empty-input short-circuit (src/validator.rs:432-438)
    if df.limit(1).count() == 0:
        if not args.quiet:
            if resumed:
                print("Nothing pending — all partitions already in the manifest")
            else:
                print("No documents found to validate")
        return 0

    # --quarantine payload columns + write (shared by both modes; the
    # input frame must already be materialized/checkpointed so the
    # emptiness probe and the write don't re-execute the pipeline)
    qcols = (
        [c for c in ("html", "text", "lang", "warc_ts") if c in df.columns]
        if args.quarantine
        else None
    )
    if args.shards and "text" in df.columns and not (qcols and "text" in qcols):
        # the shard write needs the text payload riding the verdicts
        qcols = (qcols or []) + ["text"]

    def write_quarantine(verdict_frame) -> None:
        from validate_xml_rust_spark.operators.outputs import quarantine_split

        _, bad = quarantine_split(verdict_frame)
        # skip the write entirely when nothing failed — an empty
        # partitioned dir has no parquet footers and breaks readers
        if bad.limit(1).count() == 0:
            # replay convergence: when the fixed spec repaired EVERY row,
            # a stale quarantine dir (the rows we just replayed, still
            # carrying their old failing verdicts) must not survive —
            # consumers would see false failures forever and every later
            # replay would re-validate already-fixed rows
            if args.replay:
                import shutil
                from pathlib import Path as _P

                if _P(args.quarantine).exists():
                    shutil.rmtree(args.quarantine)
                    if not args.quiet:
                        print(
                            "All quarantined rows repaired — "
                            f"{args.quarantine} removed"
                        )
                    return
            if not args.quiet:
                print(f"No rows to quarantine — {args.quarantine} not written")
            return
        quarantine_split(verdict_frame, quarantine_dir=args.quarantine)
        if not args.quiet:
            print(f"Quarantined rows written to {args.quarantine}")

    # --- validation: row verdicts from validate(), or under --prior from
    # the snapshot diff (carry forward the verdicts of unchanged rows,
    # re-validate the delta). NOT in --replay: quarantined content is
    # unchanged while the SPEC changed, so the reuse join would carry the
    # stale failing verdicts forward — replay re-validates everything.
    from pyspark.sql import Observation

    from validate_xml_rust_spark.ckpt import eager_checkpoint, release_blocks
    from validate_xml_rust_spark.operators.orchestrate import (
        FullValidationResult,
        table_violations,
    )
    from validate_xml_rust_spark.operators.resume import (
        content_fingerprint,
        incremental_verdicts,
    )
    from validate_xml_rust_spark.operators.validate import ValidationResult

    phases.start("validation")
    route = {
        "route_col": args.route_col, "route_mode": args.route_mode,
        "override_spec_id": override_id,
    }
    fcols = [c for c in ("text", "lang") if c in df.columns] or ["url"]
    prior = None
    if args.prior:
        try:
            prior = spark.read.parquet(args.prior).select(
                "url", "content_fp", "spec_id", "status", "error_count"
            )
        except Exception:
            prior = local_frame(
                spark, "url string, content_fp string, spec_id string, "
                       "status string, error_count int",
            )
    diff = prior is not None and not args.replay
    if diff:
        # carried-forward rows count toward statuses everywhere; violation
        # payloads exist only for the re-validated delta (the prior store
        # keeps the verdict triple, not the violation rows)
        diff_obs = Observation()
        verdicts = incremental_verdicts(
            df, prior, spark, registry, fcols, full_output=True,
            keep_cols=qcols, **route,
        ).observe(
            diff_obs, F.sum(F.col("revalidated").cast("long")).alias("n")
        )
    else:
        keep = list(qcols or [])
        if prior is not None:
            # the store update below needs the content fingerprint
            # alongside each replayed verdict — ride keep_cols
            df = df.withColumn("content_fp", content_fingerprint(fcols))
            keep.append("content_fp")
        verdicts = validate(
            df, spark, registry, keep_cols=keep or None, **route
        ).verdicts
    # Every sink below reads the verdicts: checkpoint once so the scan +
    # constraint pipeline executes ONCE (with --quarantine the blocks
    # carry the payload columns too; a cluster run swaps in a reliable
    # checkpoint dir).
    ck, ck_ids = eager_checkpoint(verdicts)
    # table-scope constraints run over the whole scanned input, once
    table_v, table_ids = table_violations(df, registry, **route)
    if table_v is not None:
        table_obs = Observation()
        table_v, ids = eager_checkpoint(
            table_v.observe(table_obs, F.count(F.lit(1)).alias("n"))
        )
        table_ids |= ids
    result = FullValidationResult(
        ValidationResult(ck.drop(*(qcols or []))), table_v, table_ids
    )
    if args.shards:
        from validate_xml_rust_spark.operators.outputs import (
            write_training_shards,
        )

        clean = ck.filter(F.col("status") == "valid")
        if "text" in clean.columns:
            clean = clean.withColumn(
                "n_tokens", F.coalesce(F.length("text"), F.lit(0))
            ).select("url", "text", "n_tokens")
        else:  # payload-less schema: shard on url alone, zero tokens
            clean = clean.select(
                "url", F.lit(None).cast("string").alias("text"),
                F.lit(0).alias("n_tokens"),
            )
        # checkpoint=False: clean is a narrow filter+select over ck,
        # already materialized blocks — a second inner checkpoint would
        # double the payload's block memory
        mshards = write_training_shards(
            clean, args.shards, args.shard_tokens, id_col="url",
            checkpoint=False,
        )
        if not args.quiet:
            print(
                f"Wrote {mshards.count()} training shards to {args.shards}"
            )
    if args.quarantine:
        write_quarantine(ck)
    if args.output:
        from validate_xml_rust_spark.operators.outputs import write_results

        write_results(
            result.row_result.verdicts, result.all_violations(), args.output
        )
    phases.start("aggregation")
    srow = summarize(ck).collect()[0].asDict()
    if table_v is not None:
        srow["table_violations"] = table_obs.get["n"]
    phases.finish()

    # --- commit completed partitions (one snapshot generation per run;
    # composes with the partition-level skip above: the next --manifest
    # run skips them, the next --prior run carries their rows forward).
    # Never from --replay, whose metrics cover only the quarantine subset.
    if args.manifest and not args.replay:
        from validate_xml_rust_spark.operators.resume import (
            partition_metrics,
            write_manifest,
        )

        run_id = args.run_id or f"cli-{int(time.time())}"
        sid = write_manifest(partition_metrics(ck, run_id), args.manifest)
        if not args.quiet:
            print(f"Committed snapshot {sid} (run {run_id}) to {args.manifest}")

    # --- replace the store with this run's verdicts, UNION the prior rows
    # for urls absent from this run (a --manifest-filtered or partial-dir
    # run must not shrink the store and defeat later carry-forward). The
    # run's verdicts supersede the store's rows for their urls: replayed
    # content keeps its fp, so a plain union + dedup could keep either.
    # NULL-url prior rows are dropped outright: they can never match a
    # future reuse join (SQL equality), and the anti-join can never
    # retire them (NULL matches nothing). A --prior run writes its own
    # NULL-url rows, which the next rewrite retires; replay drops them.
    # Both sides are materialized (ck is checkpointed; the union is
    # eagerly checkpointed) before the overwrite of the dir prior reads.
    if prior is not None:
        rows = ck.select(
            F.col("url").cast("string").alias("url"),
            "content_fp", "spec_id", "status", "error_count",
        )
        if args.replay:
            rows = rows.filter(F.col("url").isNotNull())
        keep_prior = prior.filter(F.col("url").isNotNull()).join(
            rows.select("url").distinct(), "url", "left_anti"
        )
        store, store_ids = eager_checkpoint(
            rows.unionByName(keep_prior).dropDuplicates(["url", "content_fp"])
        )
        store.write.mode("overwrite").parquet(args.prior)
        release_blocks(spark.sparkContext, store_ids)
        if args.replay and not args.quiet:
            print(f"Replayed verdicts updated the store at {args.prior}")
    wall_ms = (time.perf_counter() - t0) * 1000

    # --- report + exit code (S8/S10)
    if not args.quiet:
        if diff:
            revalidated = diff_obs.get["n"]
            print(
                f"Snapshot diff: {revalidated} re-validated, "
                f"{srow['total'] - revalidated} carried forward "
                f"(prior: {args.prior})"
            )
        perf = run_metrics_row(
            srow["total"], phases,
            cache_stats=cache.stats() if cache else None,
            concurrency=args.threads,
        )
        print(report(
            result.row_result.verdicts, verbosity=args.verbosity,
            wall_ms=wall_ms, perf=perf, summary=srow,
        ))
    result.release()
    release_blocks(spark.sparkContext, ck_ids)
    return exit_code(srow, fail_fast=args.fail_fast)


if __name__ == "__main__":
    raise SystemExit(main())
