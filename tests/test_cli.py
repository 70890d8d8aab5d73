"""CLI integration tests — mirrors the reference's spawned-binary tests
(tests/integration_tests.rs: exit codes + stdout assertions), run
in-process for speed (the CLI main() is a plain function)."""

from __future__ import annotations

import json

from validate_xml_rust_spark.cli import main


def test_cli_synth_exit_code_errors(capsys):
    # planted bad-utf8 rows → error verdicts → exit 2 (src/main.rs:115-116)
    code = main(["synth:3000", "-q"])
    assert code == 2


def test_cli_verbose_report(capsys):
    code = main(["synth:1500", "-v"])
    out = capsys.readouterr().out
    assert "Validation Results" in out
    assert "Total:   1500" in out
    assert "Failures" in out
    assert code in (2, 3)


def test_cli_bad_path_exit_1(capsys):
    code = main(["/definitely/not/a/path"])
    assert code == 1
    assert "Path does not exist" in capsys.readouterr().err


def test_cli_bad_threads_exit_1(capsys):
    code = main(["synth:10", "--threads", "0"])
    assert code == 1


def test_cli_fail_fast_exit_1():
    assert main(["synth:3000", "-q", "--fail-fast"]) == 1


def test_cli_spec_override_and_output(tmp_path, capsys):
    # a permissive spec via --spec → overrides routing; everything valid
    spec = {
        "spec_id": "permissive-v1",
        "constraints": [
            {"constraint_id": "any", "column": "url", "kind": "expr",
             "params": {"predicate": "1 = 1"}},
        ],
    }
    p = tmp_path / "spec.json"
    p.write_text(json.dumps(spec))
    out_dir = str(tmp_path / "out")
    code = main(["synth:500", "-q", "--spec", str(p), "--output", out_dir])
    assert code == 0  # all rows valid under the permissive override
    import pyarrow.parquet as pq

    verdicts = pq.read_table(f"{out_dir}/verdicts")
    assert verdicts.num_rows == 500


def test_cli_bad_spec_exit_1(tmp_path, capsys):
    p = tmp_path / "bad.json"
    p.write_bytes(b"{broken")
    assert main(["synth:10", "--spec", str(p)]) == 1
    assert "Failed to load spec" in capsys.readouterr().err


def test_cli_filters_to_empty_input(capsys):
    # an include glob nothing matches (null urls fail includes too) →
    # empty-input short-circuit (src/validator.rs:432-438)
    code = main(["synth:100", "--include", "zzz://**"])
    assert code == 0
    assert "No documents found" in capsys.readouterr().out


def test_cli_extension_filter_runs(capsys):
    # synth pages have extension-less urls → --extension html filters all
    # rows out → the empty-input short-circuit path (exit 0)
    code = main(["synth:200", "-q", "--extension", "html"])
    assert code == 0


def test_cli_resume_manifest_roundtrip(tmp_path, capsys):
    """--manifest end-to-end: the first run validates everything and
    commits snapshot 1; the identical re-run finds nothing pending and
    exits 0 (the reference's re-run-skips-work disk-cache contract at
    CLI level); the manifest records one generation."""
    import json

    from pyspark.sql import functions as F

    from validate_xml_rust_spark import get_spark

    manifest = str(tmp_path / "manifest")
    spec = {
        "spec_id": "permissive-v1",
        "constraints": [
            {"constraint_id": "ok", "column": "url", "kind": "expr",
             "params": {"predicate": "1 = 1"}},
        ],
    }
    p = tmp_path / "spec.json"
    p.write_text(json.dumps(spec))
    args = ["synth:300", "--spec", str(p), "--manifest", manifest,
            "--partitions", "8"]
    code1 = main(args + ["--run-id", "r1"])
    out1 = capsys.readouterr().out
    assert code1 == 0
    assert "Committed snapshot 1 (run r1)" in out1
    # identical re-run: every partition already committed → nothing pending
    code2 = main(args + ["--run-id", "r2"])
    out2 = capsys.readouterr().out
    assert code2 == 0
    assert "Nothing pending" in out2
    spark = get_spark()
    m = spark.read.parquet(manifest)
    assert {r["snapshot_id"] for r in m.select("snapshot_id").collect()} == {1}
    assert {r["run_id"] for r in m.select("run_id").collect()} == {"r1"}
    assert m.select("partition_id").distinct().count() == 8
    assert m.agg(F.sum("n_rows").alias("n")).collect()[0]["n"] == 300


def test_cli_manifest_missing_plus_empty_input_says_no_documents(tmp_path, capsys):
    # first-ever run, no manifest on disk, filters remove everything:
    # must NOT claim "all partitions already in the manifest"
    code = main([
        "synth:100", "--include", "zzz://**",
        "--manifest", str(tmp_path / "never-written"),
    ])
    out = capsys.readouterr().out
    assert code == 0
    assert "No documents found" in out
    assert "Nothing pending" not in out


def test_cli_single_execution(tmp_path, spark, monkeypatch):
    """The verdicts pipeline executes ONCE per run even though summary,
    manifest metrics, the --output sink and the report all consume it
    (eager checkpoint in main): a traced url column counts actual source evaluations — the
    pre-fix lazy chain re-derived the full pipeline per consumer (>=2n).
    The tracer is nondeterministic so a filter on url is not pushed below
    it (which would evaluate it twice in one pass over the input)."""
    from pyspark.sql import functions as F

    import validate_xml_rust_spark.sources.pages as pagesmod

    real_pages = pagesmod.pages
    acc = spark.sparkContext.accumulator(0)

    def trace(t):
        acc.add(1)
        return t

    traced = F.udf(trace, "string").asNondeterministic()

    def traced_pages(sp, n, *a, **k):
        return real_pages(sp, n, *a, **k).withColumn("url", traced(F.col("url")))

    monkeypatch.setattr(pagesmod, "pages", traced_pages)
    n = 400
    uq = ["--spec", _spec_file(tmp_path, "uq", UQ_URL)]
    # table checks read the scanned input after the verdict checkpoint:
    # a unique constraint reads it twice (the duplicate-key aggregate and
    # the join back to the offending rows), so 2n more per constraint
    for extra, table_passes in (([], 0), (["--output", str(tmp_path / "out")], 0),
                                ([*uq, "--output", str(tmp_path / "out")], 2)):
        acc.value = 0
        code = main([
            f"synth:{n}", "--manifest", str(tmp_path / f"m{len(extra)}"),
            "--partitions", "8", "--run-id", "r1", *extra,
        ])
        assert code in (0, 2, 3)
        assert acc.value <= int(1.5 * n) + table_passes * n, (
            f"url evaluated {acc.value} times for {n} rows with {extra} — "
            "pipeline re-executed"
        )


def test_cli_prior_snapshot_diff_roundtrip(tmp_path, capsys):
    """--prior end-to-end: run 1 re-validates everything (empty store) and
    writes the verdict store; the identical run 2 carries every row with a
    usable (url, fingerprint) key forward — only the keyless null-url rows
    re-validate — with identical totals and exit code."""
    from validate_xml_rust_spark.sources.pages import py_row_kinds

    prior = str(tmp_path / "prior")
    n = 400
    args = [f"synth:{n}", "--prior", prior, "--partitions", "8"]
    code1 = main(args)
    out1 = capsys.readouterr().out
    assert f"Snapshot diff: {n} re-validated, 0 carried forward" in out1
    assert f"Total:   {n}" in out1
    code2 = main(args)
    out2 = capsys.readouterr().out
    # null-url rows have no carry-forward key and re-validate every run
    n_null = py_row_kinds(n)["null_url"]
    assert (
        f"Snapshot diff: {n_null} re-validated, {n - n_null} carried forward"
        in out2
    )
    assert f"Total:   {n}" in out2
    assert code1 == code2 and code1 in (0, 2, 3)


def test_cli_prior_output_and_report(tmp_path, spark, capsys):
    """--prior + --output + -v together: the snapshot-diff branch writes
    verdicts/violations parquet and prints the standard report (pre-fix it
    silently ignored both)."""
    prior = str(tmp_path / "prior")
    outdir = str(tmp_path / "out")
    n = 1500  # large enough that synth plants invalid rows (violations > 0)
    code = main([f"synth:{n}", "--prior", prior, "--output", outdir, "-v"])
    out = capsys.readouterr().out
    assert "Validation Results" in out and "Failures" in out
    # schemas ride the count agg (planted error rows add ghost-spec-v9)
    specs_line = out.split("Specs used:")[1].splitlines()[0]
    assert "webpage-v1" in specs_line
    v = spark.read.parquet(f"{outdir}/verdicts")
    assert v.count() == n
    assert {"url", "status", "revalidated"} <= set(v.columns)
    viol = spark.read.parquet(f"{outdir}/violations")
    assert {"url", "constraint_id", "observed_value", "message"} <= set(viol.columns)
    assert viol.count() > 0  # synth pages plant invalid rows
    assert code in (0, 2, 3)


def test_cli_prior_plus_manifest_compose(tmp_path, spark, capsys):
    """--manifest (partition-level skip) and --prior (row-level
    carry-forward) compose: run 1 commits all partitions and fills the
    store; run 2 skips everything via the manifest AND the store still
    holds run 1's rows (the subset rewrite must union absent prior rows
    back, not shrink the store)."""
    from pyspark.sql import functions as F

    prior = str(tmp_path / "prior")
    man = str(tmp_path / "m")
    n = 300
    args = [f"synth:{n}", "--prior", prior, "--manifest", man,
            "--partitions", "8", "--run-id", "r1"]
    code1 = main(args)
    out1 = capsys.readouterr().out
    assert "Committed snapshot 1" in out1
    m = spark.read.parquet(man)
    assert m.select("partition_id").distinct().count() == 8
    assert m.agg(F.sum("n_rows").alias("s")).collect()[0]["s"] == n
    store1 = spark.read.parquet(prior).count()
    assert store1 > 0
    # run 2: every partition already committed → nothing pending; the
    # store must be untouched (not shrunk to the empty subset)
    code2 = main(args[:-1] + ["r2"])
    out2 = capsys.readouterr().out
    assert "Nothing pending" in out2
    assert spark.read.parquet(prior).count() == store1
    assert code1 in (0, 2, 3) and code2 == 0
    # run 3: a strict-subset input (first 100 synth docs) with --prior
    # only — the store rewrite must carry the absent rows forward, not
    # shrink to the subset
    code3 = main([f"synth:{n // 3}", "--prior", prior])
    out3 = capsys.readouterr().out
    assert "carried forward" in out3
    assert spark.read.parquet(prior).count() >= store1
    assert code3 in (0, 2, 3)


def test_cli_quarantine(tmp_path, spark, capsys):
    """--quarantine writes non-valid rows with payload, partitioned by
    status; exit code and summary unchanged."""
    qdir = str(tmp_path / "q")
    code = main(["synth:1500", "--quarantine", qdir, "-q"])
    assert code in (2, 3)  # synth plants invalid + error rows at 1500
    got = spark.read.parquet(qdir)
    assert got.count() > 0
    assert {"url", "status", "error_details", "lang"} <= set(got.columns)
    assert "html" in got.columns  # payload travels for repair/replay
    statuses = {r["status"] for r in got.select("status").distinct().collect()}
    assert statuses <= {"invalid", "error", "skipped"} and statuses


def test_cli_prior_plus_quarantine(tmp_path, spark, capsys):
    """--prior + --quarantine: carried-forward AND re-validated non-valid
    rows land in the quarantine dir, payload included for the delta and
    for carried rows (taken off the current input via the seam)."""
    prior = str(tmp_path / "prior")
    n = 1500
    code1 = main([f"synth:{n}", "--prior", prior, "-q"])
    qdir = str(tmp_path / "q")
    code2 = main([f"synth:{n}", "--prior", prior, "--quarantine", qdir, "-q"])
    got = spark.read.parquet(qdir)
    assert got.count() > 0
    assert {"status", "lang", "html", "revalidated"} <= set(got.columns)
    # carried-forward bad rows are quarantined too, not just the delta
    assert got.filter("NOT revalidated").count() > 0
    assert code1 == code2 and code1 in (2, 3)


def test_cli_quarantine_empty_skips_write(tmp_path, capsys):
    """A fully-valid run writes NO quarantine dir (an empty partitioned
    dir has no parquet footers and breaks readers)."""
    import json, os

    spec = {
        "spec_id": "permissive-v1",
        "constraints": [
            {"constraint_id": "ok", "column": "url", "kind": "expr",
             "params": {"predicate": "1 = 1"}},
        ],
    }
    p = tmp_path / "spec.json"
    p.write_text(json.dumps(spec))
    qdir = str(tmp_path / "q")
    code = main(["synth:200", "--spec", str(p), "--quarantine", qdir])
    out = capsys.readouterr().out
    assert code == 0
    assert "No rows to quarantine" in out
    assert not os.path.exists(qdir)


def test_cli_replay_repair_loop(tmp_path, spark, capsys):
    """The human repair loop: validate with a too-strict spec →
    quarantine failures → FIX the spec → --replay the quarantine dir →
    newly-valid rows go green, only genuinely-bad rows re-quarantine
    (same dir — the loop closes), and --prior's store is updated with
    the replayed verdicts (never carry the stale failures forward)."""
    import json, os

    def spec_file(name, predicate):
        p = tmp_path / f"{name}.json"
        p.write_text(json.dumps({
            "spec_id": f"{name}-v1",
            "constraints": [
                {"constraint_id": name, "column": "url", "kind": "expr",
                 "params": {"predicate": predicate}},
            ],
        }))
        return str(p)

    strict = spec_file("strict", "url NOT LIKE '%.example.net%'")
    fixed = spec_file("fixed", "url IS NOT NULL")
    prior = str(tmp_path / "store")
    qdir = str(tmp_path / "q")

    code1 = main(["synth:300", "--spec", strict, "--quarantine", qdir,
                  "--prior", prior, "-q"])
    assert code1 == 3
    q1 = spark.read.parquet(qdir)
    n_bad1 = q1.count()
    n_bad1_null = q1.filter("url IS NULL").count()
    assert n_bad1 > 1
    # materialize BEFORE replay overwrites the store dir (lazy frames
    # would rescan deleted files)
    store1 = spark.read.parquet(prior)
    store1_rows = store1.count()
    store1_invalid = store1.filter("status = 'invalid'").count()
    # the current run's NULL-url rows sit in the store until the next
    # rewrite retires them (documented --prior behavior)
    store1_null = store1.filter("url IS NULL").count()
    assert store1_null == n_bad1_null
    assert store1_invalid == n_bad1

    code2 = main([qdir, "--replay", "--spec", fixed, "--quarantine", qdir,
                  "--prior", prior])
    out2 = capsys.readouterr().out
    assert "updated the store" in out2
    # only the genuinely-bad rows (NULL urls) survive the fixed spec
    # (refresh: the shared test session's file-status cache holds the
    # previous generation's listing for overwritten dirs)
    spark.catalog.refreshByPath(qdir)
    spark.catalog.refreshByPath(prior)
    q2 = spark.read.parquet(qdir)
    assert 0 < q2.count() < n_bad1
    assert q2.filter("url IS NOT NULL").count() == 0
    assert code2 == 3  # the NULL-url rows are still invalid
    # the store now holds GREEN verdicts for every repaired row
    store2 = spark.read.parquet(prior)
    assert store2.filter("status != 'valid'").count() == 0
    # replay's rewrite retires the unmatchable NULL-url rows
    assert store2.count() == store1_rows - store1_null

    # loop convergence: replaying the residue under the SAME fixed spec
    # changes nothing (still exit 3, same rows re-quarantined)
    n_q2 = q2.count()  # materialize before code3 overwrites the dir
    code3 = main([qdir, "--replay", "--spec", fixed, "--quarantine", qdir,
                  "--prior", prior, "-q"])
    assert code3 == 3
    spark.catalog.refreshByPath(qdir)
    assert spark.read.parquet(qdir).count() == n_q2

    # --replay with a synth: path is a config error
    assert main(["synth:10", "--replay", "-q"]) == 1
    # --replay of a missing dir is a config error, not a crash
    assert main([str(tmp_path / "nope_q"), "--replay", "-q"]) == 1


def test_cli_replay_ignores_manifest(tmp_path, spark, capsys):
    """--replay + --manifest: the resume filter must NOT swallow the
    replay (quarantine rows belong to already-committed partitions), and
    replay must NOT commit its quarantine-subset metrics as completed
    partitions for later full runs."""
    import json

    def spec_file(name, predicate):
        p = tmp_path / f"{name}.json"
        p.write_text(json.dumps({
            "spec_id": f"{name}-v1",
            "constraints": [
                {"constraint_id": name, "column": "url", "kind": "expr",
                 "params": {"predicate": predicate}},
            ],
        }))
        return str(p)

    strict = spec_file("strict", "url NOT LIKE '%.example.net%'")
    fixed = spec_file("fixed", "url IS NOT NULL")
    manifest = str(tmp_path / "m")
    qdir = str(tmp_path / "q")
    code1 = main(["synth:300", "--spec", strict, "--quarantine", qdir,
                  "--manifest", manifest, "-q"])
    assert code1 == 3
    spark.catalog.refreshByPath(manifest)
    gens1 = spark.read.parquet(manifest).count()
    code2 = main([qdir, "--replay", "--spec", fixed, "--manifest", manifest])
    out2 = capsys.readouterr().out
    assert "--manifest is ignored in --replay mode" in out2
    assert "Nothing pending" not in out2
    assert code2 == 3  # the NULL-url rows actually re-validated
    # no new manifest generation was committed by the replay
    spark.catalog.refreshByPath(manifest)
    assert spark.read.parquet(manifest).count() == gens1


def test_cli_replay_full_repair_removes_quarantine(tmp_path, spark, capsys):
    """Loop convergence when the fixed spec repairs EVERY quarantined
    row: the stale quarantine dir must be removed, not left holding
    rows with their old failing verdicts."""
    import json, os

    def spec_file(name, predicate):
        p = tmp_path / f"{name}.json"
        p.write_text(json.dumps({
            "spec_id": f"{name}-v1",
            "constraints": [
                {"constraint_id": name, "column": "url", "kind": "expr",
                 "params": {"predicate": predicate}},
            ],
        }))
        return str(p)

    strict = spec_file("strict", "url NOT LIKE '%.example.net%'")
    permissive = spec_file("permissive", "1 = 1")
    qdir = str(tmp_path / "q")
    assert main(["synth:300", "--spec", strict, "--quarantine", qdir, "-q"]) == 3
    code = main([qdir, "--replay", "--spec", permissive, "--quarantine", qdir])
    out = capsys.readouterr().out
    assert code == 0
    assert "repaired" in out and "removed" in out
    assert not os.path.exists(qdir)


def test_cli_shards_and_datasheet(tmp_path, capsys):
    from validate_xml_rust_spark import get_spark
    from validate_xml_rust_spark.operators.outputs import verify_shards

    shards = str(tmp_path / "shards")
    sheet = str(tmp_path / "sheet")
    code = main([
        "synth:2000", "-q",
        "--shards", shards, "--shard-tokens", "20000",
        "--datasheet", sheet,
    ])
    assert code in (0, 2, 3)  # synth corpus plants violations by design
    spark = get_spark()
    # datasheet: composition sections present
    ds = spark.read.parquet(sheet)
    secs = {r["section"] for r in ds.select("section").distinct().collect()}
    assert "corpus" in secs and "lang" in secs and "length" in secs
    # the url-derived section carries the PUBLIC name, not a dunder
    assert "host" in secs and "__host" not in secs
    # shard store: only VALID rows, store self-consistent
    v = verify_shards(spark, shards, 20000, id_col="url")
    assert {r["status"] for r in v.collect()} == {"valid"}
    n_sharded = spark.read.parquet(f"{shards}/shards").count()
    assert 0 < n_sharded < 2000  # planted invalid/error rows excluded
    # payload columns must not leak into later sinks: re-run with
    # --output too and check the verdicts parquet schema
    out = str(tmp_path / "out")
    code2 = main([
        "synth:500", "-q", "--shards", str(tmp_path / "s2"),
        "--output", out,
    ])
    assert code2 in (0, 2, 3)
    assert "text" not in spark.read.parquet(f"{out}/verdicts").columns

    # config errors: --shards composes only with full runs (the
    # resumed-manifest case is covered by
    # test_cli_shards_fresh_manifest_composes)
    assert main(["synth:10", "--shards", shards, "--replay"]) == 1
    assert main(["synth:10", "--shards", shards, "--shard-tokens", "0"]) == 1
    # --verify-shards input validation: synth paths and non-stores are
    # config errors (exit 1), never tracebacks
    assert main(["synth:10", "--verify-shards"]) == 1
    assert main([str(tmp_path), "--verify-shards", "-q"]) == 1

    # audit mode: the fresh store verifies clean (exit 0); structural
    # drift (a deleted shard dir) exits 2 through the standard ladder
    assert main([shards, "--verify-shards", "-q"]) == 0
    import glob
    import os
    import shutil

    victim = sorted(glob.glob(f"{shards}/shards/shard_id=*"))[0]
    shutil.rmtree(victim)
    code3 = main([shards, "--verify-shards"])
    assert code3 == 2
    printed = capsys.readouterr().out
    assert "missing from store" in printed
    # a write begun but never committed (its done record lost): every
    # shard is a structural error naming the open generation
    os.remove(f"{shards}/_log/2.json")
    assert main([shards, "--verify-shards"]) == 2
    assert "generation 1 begun but never committed" in capsys.readouterr().out


def test_cli_datasheet_empty_input_and_missing_text(tmp_path, capsys):
    """An empty input still writes an (empty, readable) datasheet before
    the empty-input short-circuit; a text-less input is a config error."""
    from validate_xml_rust_spark import get_spark

    spark = get_spark()
    empty_dir = str(tmp_path / "empty")
    spark.createDataFrame(
        [], "url string, warc_ts timestamp, html binary, text string, lang string"
    ).write.parquet(empty_dir)
    sheet = str(tmp_path / "sheet")
    assert main([empty_dir, "-q", "--datasheet", sheet]) == 0
    assert spark.read.parquet(sheet).count() == 0  # readable, empty

    notext_dir = str(tmp_path / "notext")
    spark.createDataFrame(
        [("https://a/1", "en")], "url string, lang string"
    ).write.parquet(notext_dir)
    assert main([notext_dir, "--datasheet", str(tmp_path / "s2")]) == 1


def test_cli_shards_fresh_manifest_composes(tmp_path, capsys):
    """--shards with a FRESH --manifest is a full-corpus run and
    composes; the same invocation RESUMED (partitions committed) is a
    config error — the pending subset must not overwrite the store."""
    import json as _json

    spec = {
        "spec_id": "permissive-v1",
        "constraints": [
            {"constraint_id": "ok", "column": "url", "kind": "expr",
             "params": {"predicate": "1 = 1"}},
        ],
    }
    p = tmp_path / "spec.json"
    p.write_text(_json.dumps(spec))
    manifest = str(tmp_path / "m")
    shards = str(tmp_path / "s")
    args = ["synth:300", "-q", "--spec", str(p), "--manifest", manifest,
            "--shards", shards, "--shard-tokens", "5000"]
    from validate_xml_rust_spark import get_spark

    assert main(args) == 0  # fresh manifest: full corpus, shards written
    spark = get_spark()
    n0 = spark.read.parquet(f"{shards}/shards").count()
    assert n0 == 300
    # resumed (all committed): rejected before touching the store
    assert main(args) == 1
    assert "RESUMED" in capsys.readouterr().err
    assert spark.read.parquet(f"{shards}/shards").count() == n0


def test_cli_policy_filters(spark, tmp_path, capsys):
    """--blocked-domains / --robots-domains / --license-allow filter the
    input BEFORE validation; a missing list file is a config error (1)."""
    from validate_xml_rust_spark.cli import main

    bl = tmp_path / "blocked.txt"
    bl.write_text("# comment\nhot.example.com\n\n")
    rc = main(["synth:2000", "--blocked-domains", str(bl)])
    assert rc in (0, 2, 3)  # verdict-driven, not config error
    out = capsys.readouterr().out
    # the hot host is ~40% of urls: the validated total printed by the
    # summary must be well below 2000 (the blocklist ran BEFORE
    # validation, not after)
    import re

    m = re.search(r"Total:\s*(\d+)", out)
    assert m is not None, out
    assert int(m.group(1)) < 1500, out

    rc = main(["synth:50", "-q", "--blocked-domains", str(tmp_path / "nope.txt")])
    assert rc == 1

    rb = tmp_path / "robots.txt"
    rb.write_text("static.example.org\n")
    assert main(
        ["synth:500", "-q", "--blocked-domains", str(bl),
         "--robots-domains", str(rb)]
    ) in (0, 2, 3)

    # license gate over synthetic pages: no CC license markers exist in
    # the synthetic html, so everything drops -> empty-input exit path
    rc = main(["synth:200", "-q", "--license-allow", "cc-by-4.0"])
    assert rc in (0, 1, 2, 3)


def test_cli_redact_pii(tmp_path, capsys):
    """--redact-pii rewrites bytes but keeps every row (the summary
    Total is unchanged); it is a config error without a text column."""
    import re

    from validate_xml_rust_spark.cli import main

    rc = main(["synth:300", "--redact-pii"])
    assert rc in (0, 2, 3)
    m = re.search(r"Total:\s*(\d+)", capsys.readouterr().out)
    assert m is not None and int(m.group(1)) == 300


UQ_URL = [
    {"constraint_id": "url_nn", "column": "url", "kind": "not_null"},
    {"constraint_id": "uq_url", "column": "url", "kind": "unique"},
]


def _spec_file(tmp_path, name: str, constraints: list[dict]) -> str:
    p = tmp_path / f"{name}.json"
    p.write_text(json.dumps({"spec_id": f"{name}-v1", "constraints": constraints}))
    return str(p)


def _four_pages(spark, tmp_path) -> str:
    """4 pages, two of which share a url."""
    path = str(tmp_path / "pages")
    spark.createDataFrame(
        [(f"https://a.example/{k}", "en", text, f"<p>{text}</p>".encode())
         for k, text in ((1, "one"), (1, "two"), (2, "three"), (3, "four"))],
        "url string, lang string, text string, html binary",
    ).write.parquet(path)
    return path


def test_cli_runs_table_constraints(tmp_path, spark, capsys):
    """A --spec table constraint reaches the report, the violations sink
    and the exit code: the four rows pass their row checks, the duplicate
    url is two table violations, and the run exits 3 (it exited 0 and
    wrote no uq_url row while the CLI ran row checks only)."""
    out = str(tmp_path / "out")
    spec = _spec_file(tmp_path, "uq", UQ_URL)
    code = main([_four_pages(spark, tmp_path), "--spec", spec, "--output", out, "-v"])
    printed = capsys.readouterr().out
    assert code == 3
    assert "Valid:   4" in printed and "Table violations: 2" in printed
    uq = spark.read.parquet(f"{out}/violations/constraint_id=uq_url")
    assert sorted(r["url"] for r in uq.collect()) == ["https://a.example/1"] * 2
    assert spark.read.parquet(f"{out}/verdicts").count() == 4


def test_cli_vocab_drift_spec_exits_nonzero(tmp_path, spark, capsys):
    """A drift(vocab) table constraint over rows that all pass their row
    checks yields violation rows and exit 3."""
    spec = _spec_file(tmp_path, "vocab", [
        {"constraint_id": "any", "column": "url", "kind": "expr",
         "params": {"predicate": "1 = 1"}},
        {"constraint_id": "vocab_text", "column": "text", "kind": "drift",
         "params": {"test": "vocab", "threshold": 0.0, "n_buckets": 64}},
    ])
    out = str(tmp_path / "out")
    code = main(["synth:600", "-q", "--partitions", "4", "--spec", spec,
                 "--output", out])
    assert code == 3
    assert spark.read.parquet(f"{out}/violations/constraint_id=vocab_text").count() > 0
    assert spark.read.parquet(f"{out}/verdicts/status=valid").count() == 600


def test_cli_prior_reports_table_violations_every_run(tmp_path, spark, capsys):
    """--prior carries row verdicts forward, but the table checks judge
    the whole input on every run: both runs report the same rows."""
    pages = _four_pages(spark, tmp_path)
    spec = _spec_file(tmp_path, "uq", UQ_URL)
    prior = str(tmp_path / "store")
    got = []
    for i in range(2):
        out = str(tmp_path / f"out{i}")
        code = main([pages, "--spec", spec, "--prior", prior, "--output", out])
        printed = capsys.readouterr().out
        assert code == 3 and "Table violations: 2" in printed
        uq = spark.read.parquet(f"{out}/violations/constraint_id=uq_url")
        got.append(sorted(r["url"] for r in uq.collect()))
    assert "0 re-validated, 4 carried forward" in printed
    assert got[0] == got[1] == ["https://a.example/1"] * 2


def test_cli_refuses_table_constraints_it_cannot_run(tmp_path, spark, capsys):
    """A referential spec needs a reference table the CLI cannot supply,
    and --replay or a resumed --manifest run validates only a subset of
    the table: each exits 1 and writes nothing."""
    import os

    pages = _four_pages(spark, tmp_path)
    out, sheet = str(tmp_path / "out"), str(tmp_path / "sheet")
    ref = _spec_file(tmp_path, "ref", [
        {"constraint_id": "ref_host", "column": "url", "kind": "referential",
         "params": {"ref_table": "hosts", "parent_key": "url"}},
    ])
    assert main([pages, "--spec", ref, "--output", out, "--datasheet", sheet]) == 1
    assert "ref_host (referential) needs reference table 'hosts'" in capsys.readouterr().err
    assert not os.path.exists(out) and not os.path.exists(sheet)

    uq = _spec_file(tmp_path, "uq", UQ_URL)
    strict = _spec_file(tmp_path, "strict", [
        {"constraint_id": "strict", "column": "url", "kind": "expr",
         "params": {"predicate": "url LIKE '%/1'"}},
    ])
    qdir = str(tmp_path / "q")
    assert main([pages, "-q", "--spec", strict, "--quarantine", qdir]) == 3
    before = sorted(os.listdir(qdir))
    assert main([qdir, "--replay", "--spec", uq, "--quarantine", qdir,
                 "--output", out]) == 1
    assert "whole table" in capsys.readouterr().err
    assert sorted(os.listdir(qdir)) == before and not os.path.exists(out)

    manifest = str(tmp_path / "m")
    assert main([pages, "-q", "--spec", strict, "--manifest", manifest]) == 3
    # a no-op resume validates nothing: it is not refused
    assert main([pages, "--spec", uq, "--manifest", manifest, "--output", out]) == 0
    assert "Nothing pending" in capsys.readouterr().out
    # new hosts land in partitions the manifest has not committed
    spark.createDataFrame(
        [(f"https://{h}.example/1", "en", h, f"<p>{h}</p>".encode())
         for h in ("b", "c", "d", "e")],
        "url string, lang string, text string, html binary",
    ).write.mode("append").parquet(pages)
    assert main([pages, "--spec", uq, "--manifest", manifest, "--output", out]) == 1
    assert "whole table" in capsys.readouterr().err
    assert not os.path.exists(out)


def test_exit_code_counts_table_violations():
    """Table violations climb the ladder like invalid rows: --fail-fast
    returns 1, error rows still win with 2, otherwise 3."""
    from validate_xml_rust_spark.operators.summary import exit_code

    row = {"valid": 4, "invalid": 0, "error": 0, "skipped": 0, "table_violations": 2}
    assert exit_code(row) == 3
    assert exit_code(row, fail_fast=True) == 1
    assert exit_code({**row, "error": 1}) == 2
    assert exit_code({**row, "table_violations": 0}) == 0
