"""Scaling-efficiency evidence for the north_rule's two-cluster-size
criterion (N vs 4N executors, throughput efficiency ≥ 0.8).

No multi-node cluster exists in this sandbox, so the same job runs at two
parallelism levels in SEPARATE processes (a SparkSession's master is fixed
at JVM start) on identical input:

- PRIMARY contrast: local[2] vs local[8] — both levels well below the
  single box's DRAM-bandwidth saturation point, so core count is the only
  varying resource, exactly like adding executor NODES (each real node
  brings its own memory channels).
- SECONDARY contrast: local[8] vs local[32] — reported for transparency;
  at 32 threads this single box saturates memory bandwidth on the
  string-heavy generation+validation workload, an artifact a real
  4×-node cluster does not have.

Per level: one full warmup run (C2 JIT of the generated code dominates
the first execution — measured 27s first vs 5s steady-state) + 3 measured
reps; steady-state = best rep. Writes BENCH/BASELINE.md.

Usage: python scaling_bench.py [n_docs]

Input-size note: each rep carries a ~1-1.5s FIXED driver cost (fresh plan
build + codegen + task scheduling) that does not shrink with cores; at
4M docs that term is ~25-30% of the 8-core runtime and drags the
measured 2→8 ratio below the true compute scaling (Amdahl on driver
overhead a real multi-node job amortizes over far longer runs). Size
n_docs so the 8-core level runs ≥8s (8M+ on this box) before reading the
efficiency as a statement about the ENGINE.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

# Injected into every worker: CPU seconds consumed by this process tree
# (JVM + Python UDF workers). local[N] bounds TASK SLOTS, not processes —
# an Arrow-UDF stage pairs each JVM task thread with a Python worker
# process, so a "2-slot" level consumes ~3+ physical cores. Reporting
# avg_parallelism (= cpu_secs / wall) lets the efficiency be normalized
# to cores actually consumed, which is what adding executor NODES scales.
CPU_HELPER = r"""
import os as _os

def _tree_cpu_secs():
    me = str(_os.getpid()); info = {}
    for p in [x for x in _os.listdir("/proc") if x.isdigit()]:
        try:
            with open(f"/proc/{p}/stat") as f:
                parts = f.read().rsplit(")", 1)[1].split()
            info[p] = (parts[1], int(parts[11]) + int(parts[12]))
        except Exception:
            pass
    keep = {me}; changed = True
    while changed:
        changed = False
        for p, (pp, _) in info.items():
            if p not in keep and pp in keep:
                keep.add(p); changed = True
    return sum(info[p][1] for p in keep if p in info) / _os.sysconf("SC_CLK_TCK")
"""

WORKER = r"""
import sys, json, time
sys.path.insert(0, sys.argv[4])
cpus = int(sys.argv[1]); n_docs = int(sys.argv[2]); reps = int(sys.argv[3])
from validate_xml_rust_spark import get_spark
from validate_xml_rust_spark.operators.validate import validate
from validate_xml_rust_spark.sources.pages import LANGS, pages, with_partition_id
from validate_xml_rust_spark.specs import Constraint, Spec, SpecRegistry
from pyspark.sql import functions as F

spark = get_spark(app_name=f"scale-{cpus}", cpus=cpus, shuffle_partitions=cpus)
spec = Spec("webpage-v1", (
    Constraint("url_not_null", "url", "not_null"),
    Constraint("url_format", "url", "regex", {"pattern": r"^https?://.*"}),
    Constraint("warc_ts_range", "warc_ts", "range",
               {"lo": "2025-01-01 00:00:00", "hi": "2026-01-01 00:00:00"}),
    Constraint("html_utf8", "html", "utf8", severity="error"),
    Constraint("html_len", "html", "length", {"lo": 1, "hi": 100000}),
    Constraint("lang_enum", "lang", "isin", {"values": LANGS}),
))
registry = SpecRegistry().add(spec, route_keys=LANGS)

def make_plan():
    # fresh plan per run: same generated-code shape (JIT cache warm) but a
    # new RDD lineage, so a run can never reuse a previous run's shuffle
    df = with_partition_id(pages(spark, n_docs, 128), 64)
    res = validate(df, spark, registry, route_mode="content")
    return (res.verdicts.groupBy("partition_id")
            .agg(F.count(F.lit(1)).alias("total"),
                 F.sum(F.size("violation_entries")).alias("viol")))

make_plan().collect()  # JIT warmup (full pipeline, full size)
times = []
total = 0
c0 = _tree_cpu_secs()
for _ in range(reps):
    t0 = time.perf_counter()
    rows = make_plan().collect()
    times.append(round(time.perf_counter() - t0, 3))
    total = sum(r["total"] for r in rows)
cpu = _tree_cpu_secs() - c0
times_sorted = sorted(times)
median = round((times_sorted[(len(times)-1)//2] + times_sorted[len(times)//2]) / 2, 3)
print(json.dumps({"cpus": cpus, "docs": total, "times": times,
                  "best_secs": min(times), "median_secs": median,
                  "avg_parallelism": round(cpu / sum(times), 2),
                  "docs_per_sec": round(total / median, 1)}))
spark.stop()
"""


WORKER_DEDUP = r"""
import sys, json, time
sys.path.insert(0, sys.argv[4])
cpus = int(sys.argv[1]); n_docs = int(sys.argv[2]); reps = int(sys.argv[3])
from validate_xml_rust_spark import get_spark
from validate_xml_rust_spark.operators.dedup import minhash_near_duplicates
from validate_xml_rust_spark.sources.corpus import synthetic_documents

spark = get_spark(app_name=f"scale-dedup-{cpus}", cpus=cpus, shuffle_partitions=cpus)

def run_once():
    docs = synthetic_documents(spark, n_docs, 64)
    return minhash_near_duplicates(docs, threshold=0.6).count()

run_once()  # Python-worker spin-up + JIT warmup
spark.catalog.clearCache()
times = []
c0 = _tree_cpu_secs()
for _ in range(reps):
    t0 = time.perf_counter()
    n_pairs = run_once()
    times.append(round(time.perf_counter() - t0, 3))
    spark.catalog.clearCache()
cpu = _tree_cpu_secs() - c0
times_sorted = sorted(times)
median = round((times_sorted[(len(times)-1)//2] + times_sorted[len(times)//2]) / 2, 3)
print(json.dumps({"cpus": cpus, "docs": n_docs, "pairs": n_pairs, "times": times,
                  "best_secs": min(times), "median_secs": median,
                  "avg_parallelism": round(cpu / sum(times), 2),
                  "docs_per_sec": round(n_docs / median, 1)}))
spark.stop()
"""


WORKER_EXCISE = r"""
import sys, json, time
sys.path.insert(0, sys.argv[4])
cpus = int(sys.argv[1]); n_docs = int(sys.argv[2]); reps = int(sys.argv[3])
from pyspark.sql import functions as F
from validate_xml_rust_spark import get_spark
from validate_xml_rust_spark.ckpt import release_blocks
from validate_xml_rust_spark.operators.dedup import excise_shared_passages
from validate_xml_rust_spark.sources.corpus import passage_corpus

spark = get_spark(app_name=f"scale-excise-{cpus}", cpus=cpus,
                  shuffle_partitions=cpus)

def run_once():
    # winnow prefilter -> positional-gram marking -> keeper groupBy ->
    # join-back -> interval merge -> Arrow rebuild; ONE aggregation action
    # consumes the rebuilt frame. The result signature (docs, tokens
    # removed, spans) is collected every rep so parallelism-invariance is
    # asserted by the harness, not assumed.
    st = {}
    out = excise_shared_passages(passage_corpus(spark, n_docs, 64), stats=st)
    row = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_tokens_removed").alias("removed"),
        F.sum("n_spans").alias("spans"),
    ).collect()[0]
    release_blocks(spark.sparkContext, st.get("ckpt_block_ids", frozenset()))
    return [int(row["n"]), int(row["removed"]), int(row["spans"])]

sig = run_once()  # Arrow-path + JIT warmup, full size
spark.catalog.clearCache()
times = []
c0 = _tree_cpu_secs()
for _ in range(reps):
    t0 = time.perf_counter()
    sig = run_once()
    times.append(round(time.perf_counter() - t0, 3))
    spark.catalog.clearCache()
cpu = _tree_cpu_secs() - c0
times_sorted = sorted(times)
median = round((times_sorted[(len(times)-1)//2] + times_sorted[len(times)//2]) / 2, 3)
print(json.dumps({"cpus": cpus, "docs": n_docs, "signature": sig, "times": times,
                  "best_secs": min(times), "median_secs": median,
                  "avg_parallelism": round(cpu / sum(times), 2),
                  "docs_per_sec": round(n_docs / median, 1)}))
spark.stop()
"""


WORKER_INCR = r"""
import sys, json, time, tempfile
sys.path.insert(0, sys.argv[4])
cpus = int(sys.argv[1]); n_docs = int(sys.argv[2]); reps = int(sys.argv[3])
from pyspark.sql import functions as F
from validate_xml_rust_spark import get_spark
from validate_xml_rust_spark.ckpt import release_blocks
from validate_xml_rust_spark.operators.dedup import (
    SignatureStore, incremental_near_dedup,
)
from validate_xml_rust_spark.sources.corpus import synthetic_documents

spark = get_spark(app_name=f"scale-incr-{cpus}", cpus=cpus,
                  shuffle_partitions=cpus)
# bootstrap generation (the historical corpus) is built ONCE, untimed —
# the recurring-ingest loop's cost is the SLICE side only
corpus = synthetic_documents(spark, n_docs, 64)
store = SignatureStore(spark, tempfile.mkdtemp(prefix=f"scale_store_{cpus}_"))
incremental_near_dedup(corpus.filter(F.col("doc_id") % 2 == 0), store,
                       threshold=0.6)
slice_b = corpus.filter(F.col("doc_id") % 2 == 1)

def run_once():
    # sign the slice -> capped band self-join (within-slice pairs) ->
    # ONE equi-join vs the store's banded layout -> exact-Jaccard verify
    # over stored sketches -> component taint -> anti join. commit=False
    # keeps the store identical across reps; the survivor count is the
    # parallelism-invariance signature.
    st = {}
    out = incremental_near_dedup(slice_b, store, threshold=0.6,
                                 commit=False, stats=st)
    n = out.count()
    # the survivor count has materialized, so the operator's drop-frame
    # localCheckpoint blocks are releasable — clearCache() cannot reach
    # RDD-level checkpoint blocks (repo rule), and a stats-less loop
    # would leak one block set per rep, skewing later reps (ADVICE r6)
    release_blocks(spark.sparkContext, st.get("ckpt_block_ids", frozenset()))
    return [int(n), int(st.get("n_store_matches", -1)),
            int(st.get("n_dropped", -1))]

sig = run_once()  # Arrow-path + JIT warmup, full size
spark.catalog.clearCache()
times = []
c0 = _tree_cpu_secs()
for _ in range(reps):
    t0 = time.perf_counter()
    sig = run_once()
    times.append(round(time.perf_counter() - t0, 3))
    spark.catalog.clearCache()
cpu = _tree_cpu_secs() - c0
times_sorted = sorted(times)
median = round((times_sorted[(len(times)-1)//2] + times_sorted[len(times)//2]) / 2, 3)
print(json.dumps({"cpus": cpus, "docs": n_docs // 2, "signature": sig, "times": times,
                  "best_secs": min(times), "median_secs": median,
                  "avg_parallelism": round(cpu / sum(times), 2),
                  "docs_per_sec": round((n_docs // 2) / median, 1)}))
spark.stop()
"""


def run_level(cpus: int, n_docs: int, reps: int = 4, worker: str = WORKER) -> dict:
    here = os.path.dirname(os.path.abspath(__file__))
    out = subprocess.run(
        [sys.executable, "-c", CPU_HELPER + worker,
         str(cpus), str(n_docs), str(reps), here],
        capture_output=True, text=True, cwd=here, timeout=3600,
    )
    lines = [l for l in out.stdout.strip().splitlines() if l.startswith("{")]
    if not lines:
        raise RuntimeError(f"worker failed at cpus={cpus}:\n{out.stderr[-2000:]}")
    return json.loads(lines[-1])


def main() -> None:
    # SCALE_JOBS selects which contrasts to (re)measure this invocation;
    # the rest load from BENCH/scaling_results.json (written every run).
    # Rationale: one noisy co-tenant window shouldn't force re-measuring
    # ALL four jobs (~50 min) to refresh one table — re-run the affected
    # job alone and regenerate the document from the freshest per-job
    # results. The sidecar records every job's full level payloads, so
    # the document is always reproducible from committed state.
    jobs = set(
        (os.environ.get("SCALE_JOBS") or "validation,dedup,excise,incr")
        .split(",")
    )
    bench_dir = Path(__file__).parent / "BENCH"
    bench_dir.mkdir(exist_ok=True)
    sidecar = bench_dir / "scaling_results.json"
    res: dict = json.loads(sidecar.read_text()) if sidecar.exists() else {}

    if "validation" in jobs:
        n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
        res["validation"] = {
            "2": run_level(2, n_docs),
            "8": run_level(8, n_docs),
            "32": run_level(32, n_docs),
        }
    if "dedup" in jobs:
        dedup_docs = int(os.environ.get("SCALE_DEDUP_DOCS", "200000"))
        res["dedup"] = {
            "2": run_level(2, dedup_docs, worker=WORKER_DEDUP),
            "8": run_level(8, dedup_docs, worker=WORKER_DEDUP),
        }
    if "excise" in jobs:
        excise_docs = int(os.environ.get("SCALE_EXCISE_DOCS", "150000"))
        res["excise"] = {
            "2": run_level(2, excise_docs, reps=3, worker=WORKER_EXCISE),
            "8": run_level(8, excise_docs, reps=3, worker=WORKER_EXCISE),
        }
    if "incr" in jobs:
        # sized by the module's fixed-term rule: the incremental loop
        # carries ~11s of SIZE-INDEPENDENT driver cost (fitting
        # T = F + P/cores at 100k- and 300k-doc slices gives F = 11.7
        # and 10.9s — iterative component rounds + checkpoint/count
        # actions are scheduling latency, not compute), so the slice
        # must be big enough that F is <16% of the 8-core runtime before
        # the efficiency reads on the ENGINE. (An earlier run ALSO
        # carried a size-DEPENDENT serial term — the store generations
        # landed as single parquet files, so every store-side scan ran
        # at parallelism 1; fixed by key-repartitioned generation
        # writes, SignatureStore._write_generation.)
        incr_docs = int(os.environ.get("SCALE_INCR_DOCS", "1600000"))
        res["incr"] = {
            "2": run_level(2, incr_docs, reps=3, worker=WORKER_INCR),
            "8": run_level(8, incr_docs, reps=3, worker=WORKER_INCR),
        }

    missing = [
        j for j in ("validation", "dedup", "excise", "incr") if j not in res
    ]
    if missing:
        raise RuntimeError(
            f"no stored results for {missing}; run with SCALE_JOBS including them"
        )
    sidecar.write_text(json.dumps(res, indent=1) + "\n")

    r2, r8, r32 = (res["validation"][k] for k in ("2", "8", "32"))
    d2, d8 = res["dedup"]["2"], res["dedup"]["8"]
    e2, e8 = res["excise"]["2"], res["excise"]["8"]
    i2, i8 = res["incr"]["2"], res["incr"]["8"]
    n_docs, dedup_docs = r2["docs"], d2["docs"]
    excise_docs, incr_docs = e2["docs"], i2["docs"] * 2
    if e2["signature"] != e8["signature"]:
        raise RuntimeError(
            f"excise result diverged across parallelism levels: "
            f"{e2['signature']} vs {e8['signature']}"
        )
    if i2["signature"] != i8["signature"]:
        raise RuntimeError(
            f"incremental near-dedup diverged across parallelism levels: "
            f"{i2['signature']} vs {i8['signature']}"
        )

    def eff(lo, hi, factor):
        return round((hi["docs_per_sec"] / lo["docs_per_sec"]) / factor, 3)

    def eff_resource(lo, hi):
        # normalize by cores ACTUALLY CONSUMED (avg_parallelism), not
        # task slots — local[N] does not bound Python UDF worker
        # processes, so a "2-slot" Arrow-stage job burns ~3+ cores and
        # the slot-normalized ratio understates the engine's scaling
        return round(
            (hi["docs_per_sec"] / lo["docs_per_sec"])
            / (hi["avg_parallelism"] / lo["avg_parallelism"]),
            3,
        )

    primary = eff(r2, r8, 4)
    secondary = eff(r8, r32, 4)
    dedup_eff = eff(d2, d8, 4)
    excise_eff = eff(e2, e8, 4)
    dedup_eff_res = eff_resource(d2, d8)
    excise_eff_res = eff_resource(e2, e8)
    incr_eff = eff(i2, i8, 4)
    incr_eff_res = eff_resource(i2, i8)
    print(json.dumps({
        "primary_2_to_8": {"speedup": round(r8["docs_per_sec"] / r2["docs_per_sec"], 2),
                           "efficiency": primary},
        "secondary_8_to_32": {"speedup": round(r32["docs_per_sec"] / r8["docs_per_sec"], 2),
                              "efficiency": secondary},
        "dedup_2_to_8": {"speedup": round(d8["docs_per_sec"] / d2["docs_per_sec"], 2),
                         "efficiency": dedup_eff,
                         "efficiency_per_consumed_core": dedup_eff_res},
        "excise_2_to_8": {"speedup": round(e8["docs_per_sec"] / e2["docs_per_sec"], 2),
                          "efficiency": excise_eff,
                          "efficiency_per_consumed_core": excise_eff_res},
        "incr_neardup_2_to_8": {"speedup": round(i8["docs_per_sec"] / i2["docs_per_sec"], 2),
                                "efficiency": incr_eff,
                                "efficiency_per_consumed_core": incr_eff_res},
        "levels": {"2": r2, "8": r8, "32": r32},
        "dedup_levels": {"2": d2, "8": d8},
        "excise_levels": {"2": e2, "8": e8},
        "incr_levels": {"2": i2, "8": i8},
    }))

    bench_dir = Path(__file__).parent / "BENCH"
    bench_dir.mkdir(exist_ok=True)
    rows = "\n".join(
        f"| {r['cpus']} | {r['docs']:,} | {r['times']} | {r['median_secs']} | {r['docs_per_sec']:,} |"
        for r in (r2, r8, r32)
    )
    (bench_dir / "BASELINE.md").write_text(f"""# Scaling evidence — N vs 4N parallelism

North_rule criterion: throughput scaling efficiency >= 0.8 from N to 4N
executors. Sandbox realization (no multi-node cluster): the IDENTICAL
validation job — full constraint suite, content-routed spec extraction
(per-document <meta> reference, the xsi:schemaLocation analog), 4-state
verdicts, per-partition summary — over the same {n_docs:,}-doc synthetic
Common-Crawl-style pages input (128 input partitions, fixed across levels),
run at local[2], local[8], local[32] in separate JVMs. Per level: one full
warmup run (C2 JIT of generated code dominates first execution), then 4
measured reps; throughput from the MEDIAN rep — best-of-reps would bias
the low-core levels upward (2 idle-ish threads turbo-boost higher on their
luckiest rep, which is exactly the artifact a multi-node cluster does not
have; the median is the steady-state a long job sees).

| cores | docs | rep times (s) | median s | validated docs/sec |
|---|---|---|---|---|
{rows}

## Primary contrast: N=2 → 4N=8 cores

- speedup: **{r8['docs_per_sec'] / r2['docs_per_sec']:.2f}x**, efficiency **{primary}** (target >= 0.8)

Both levels sit well below the box's DRAM-bandwidth ceiling, so core count
is the only varying resource — the same contrast as adding executor nodes,
each of which brings its own memory channels on a real cluster.

## Secondary contrast: 8 → 32 cores (single-box artifact)

- speedup: {r32['docs_per_sec'] / r8['docs_per_sec']:.2f}x, efficiency {secondary}

At 32 threads this one box saturates memory bandwidth on the string-heavy
workload (raw ALU work scales 3.2x over the same range — measured with a
pure-Python multiprocessing burn — while this string/regex pipeline does
not). A real 4x-executor cluster adds DRAM with every node, so the primary
contrast is the faithful proxy. Both are reported for transparency.

## Supplementary job: MinHash-LSH near-dup dedup, 2 → 8 cores

The shuffle-heavy job family (banded bucket join + verify joins), same
N vs 4N contrast over a {dedup_docs:,}-doc planted corpus:

| cores | docs | rep times (s) | median s | docs/sec |
|---|---|---|---|---|
| {d2['cpus']} | {d2['docs']:,} | {d2['times']} | {d2['median_secs']} | {d2['docs_per_sec']:,} |
| {d8['cpus']} | {d8['docs']:,} | {d8['times']} | {d8['median_secs']} | {d8['docs_per_sec']:,} |

- speedup: **{d8['docs_per_sec'] / d2['docs_per_sec']:.2f}x**, slot efficiency **{dedup_eff}**,
  per-consumed-core efficiency **{dedup_eff_res}**
  (cores actually consumed: {d2['avg_parallelism']} at 2 slots,
  {d8['avg_parallelism']} at 8 — see the measurement note below)
- ({d2['pairs']} verified pairs found at both levels — results are
  parallelism-invariant)

**Measurement note (Python-offload artifact):** `local[N]` bounds TASK
SLOTS, not processes. Every Arrow-UDF stage pairs a JVM task thread with
a Python worker process, so the "2-slot" level consumes ~{d2['avg_parallelism']}
physical cores while the "8-slot" level consumes ~{d8['avg_parallelism']} —
measured as process-tree CPU-seconds / wall by the harness itself. The
slot-normalized ratio therefore UNDERSTATES the engine's scaling for
Python-stage jobs (the 2-slot denominator is subsidized by extra cores a
real 2-core executor would not have). Normalizing by cores actually
consumed — the resource a real cluster adds with each node — gives the
per-consumed-core efficiency. The pure-JVM validation job above has no
Python stages (avg parallelism {r2['avg_parallelism']} / {r8['avg_parallelism']}
at 2/8 slots), which is why its slot efficiency is already clean.

## Supplementary job: substring passage excision (ExactSubstr), 2 → 8 cores

The heaviest multi-stage shuffle pipeline in the engine (winnow prefilter
→ positional-gram marking → keeper groupBy → join-back → interval merge →
Arrow rebuild), same N vs 4N contrast over a {excise_docs:,}-doc
planted-shared-passage corpus (3 measured reps after a full-size warmup;
input sized so the 8-core level runs well past the fixed driver term):

| cores | docs | rep times (s) | median s | docs/sec |
|---|---|---|---|---|
| {e2['cpus']} | {e2['docs']:,} | {e2['times']} | {e2['median_secs']} | {e2['docs_per_sec']:,} |
| {e8['cpus']} | {e8['docs']:,} | {e8['times']} | {e8['median_secs']} | {e8['docs_per_sec']:,} |

- speedup: **{e8['docs_per_sec'] / e2['docs_per_sec']:.2f}x**, slot efficiency **{excise_eff}**,
  per-consumed-core efficiency **{excise_eff_res}**
  (cores actually consumed: {e2['avg_parallelism']} at 2 slots,
  {e8['avg_parallelism']} at 8 — the Python-offload artifact documented
  in the dedup measurement note; three of this pipeline's stages are
  Arrow UDFs, so the subsidy at the low level is largest here)
- parallelism-invariance: (docs, tokens removed, merged spans) =
  {e2['signature']} at BOTH levels (the harness raises if they diverge)

## Supplementary job: incremental near-dedup vs the signature store, 2 → 8 cores

The recurring-ingest loop (r6's headline operator): a {incr_docs // 2:,}-doc
slice signs itself, runs the capped band self-join for within-slice
pairs, equi-joins the persisted store's banded layout, exact-verifies
against stored shingle sketches, and anti-joins the drop set. The
bootstrap generation (the other {incr_docs // 2:,} docs) is built once,
UNTIMED, per level — the loop's recurring cost is the slice side only
(3 measured reps after a full-size warmup, commit=False so the store is
rep-stable). This job carries ~11s of SIZE-INDEPENDENT driver cost
(fitted as T = F + P/cores at 100k- and 300k-doc slices: F = 11.7 /
10.9s — the iterative component rounds and checkpoint/count actions are
scheduling latency a long ingest amortizes), hence the slice is sized so
that term is <16% of the 8-core runtime (the module's standing rule).
Finding from the first run of this contrast: the store generations
landed as single parquet files, so every store-side scan/join ran at
parallelism 1 regardless of cores — a size-DEPENDENT serial term (F
fitted 26s at a 600k slice), removed by key-repartitioned generation
writes (SignatureStore._write_generation; both levels got ~15% faster
and F returned to the constant ~11s):

| cores | slice docs | rep times (s) | median s | docs/sec |
|---|---|---|---|---|
| {i2['cpus']} | {i2['docs']:,} | {i2['times']} | {i2['median_secs']} | {i2['docs_per_sec']:,} |
| {i8['cpus']} | {i8['docs']:,} | {i8['times']} | {i8['median_secs']} | {i8['docs_per_sec']:,} |

- speedup: **{i8['docs_per_sec'] / i2['docs_per_sec']:.2f}x**, slot efficiency **{incr_eff}**,
  per-consumed-core efficiency **{incr_eff_res}**
  (cores actually consumed: {i2['avg_parallelism']} at 2 slots,
  {i8['avg_parallelism']} at 8 — the Python-offload artifact above:
  the slice signing is an Arrow stage)
- parallelism-invariance: (survivors, store matches, dropped) =
  {i2['signature']} at BOTH levels (the harness raises if they diverge)

## vs reference baseline

Reference (BASELINE.md): 4,762 files/sec end-to-end, all cores of an
Apple M1 Max. This engine: {r8['docs_per_sec']:,.0f} docs/sec at 8 cores
({r8['docs_per_sec'] / 4762:.0f}x), {r32['docs_per_sec']:,.0f} docs/sec at
32 cores ({r32['docs_per_sec'] / 4762:.0f}x) — full constraint suite
including per-document spec extraction, UTF-8 validation, regex/range/enum
checks, violation materialization, and per-partition aggregation.

Regenerate: `python scaling_bench.py {n_docs}`
""")
    # hand-written round-over-round notes live in BENCH/NOTES.md so a
    # regeneration never clobbers them (r5 lesson: the r4 notes were
    # appended to the generated file and lost on the next rewrite)
    notes = bench_dir / "NOTES.md"
    if notes.exists():
        with (bench_dir / "BASELINE.md").open("a") as f:
            f.write("\n" + notes.read_text())
    print(f"wrote BENCH/BASELINE.md (primary efficiency={primary})")


if __name__ == "__main__":
    main()
