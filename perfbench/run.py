"""One benchmark run: set up a workload from a seed, run its chain once
cold and once more to warm up, then time it for a fixed window, check
every iteration's output, and print the metrics.

    python3 perfbench/run.py --workload validate_pages --seed 1 --seconds 15 --trace 0

Each metric is printed as ``<workload>/<metric> <value> <unit>``; the last
line of standard output is one JSON object (``correct``, ``attempted``,
``failed``, ``metrics``). ``--trace 1`` also runs traced iterations,
interleaved with untraced ones, plus a per-layer breakdown, adds the
per-layer metrics to the end-to-end ones, and writes the spans to
``perfbench/.runs/``. The exit code is non-zero when any iteration fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
RUNS = os.path.join(HERE, ".runs")

THREADS = 3  # task slots: one core of four is left to the driver and the OS
HEAP = "2g"
WARMUPS = 1  # untimed iterations between the cold one and the timed ones
MIN_TIMED = 3  # fewest timed iterations in an untraced run
MIN_TRACED_PAIRS = 2
SHUFFLE_BYTES_TOL = 0.05


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(work: str) -> None:
    """Keep every file the run writes inside the checkout, and let Python
    workers import the package from the checkout root."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", HEAP)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session():
    from validate_xml_rust_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        cpus=THREADS,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedStages": "5000",
            "spark.ui.retainedJobs": "5000",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        },
    )


def stop_session(spark) -> None:
    """Stop Spark, close the py4j gateway, wait for the JVM to exit (it
    exits when its stdin, held by this process, reaches EOF) and for every
    process it started (the Python worker daemon and its workers)."""
    from pyspark import SparkContext

    from perfbench.tracing import descendants, wait_gone

    started = descendants(os.getpid())
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    left = wait_gone(started, timeout=30)
    if left:
        print(f"# processes still running after stop: {sorted(left)}", file=sys.stderr)


def sweep(spark) -> None:
    """Drop whatever an iteration left persisted (SQL caches and RDD-level
    checkpoint blocks) so one iteration never carries into the next."""
    spark.catalog.clearCache()
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in list(jmap.keySet().toArray()):
        rdd = jmap.get(rid)
        if rdd is not None:
            rdd.unpersist()


class Runner:
    def __init__(self, spark, wl, store, tracer) -> None:
        self.spark, self.wl, self.store, self.tracer = spark, wl, store, tracer
        self.iterations: list[dict] = []
        self.layers: dict = {}

    def iterate(self, kind: str, traced: bool = False) -> dict:
        from perfbench.tracing import dir_stats

        k = len(self.iterations)
        out = os.path.join(self.wl.work, f"out_{k}")
        rec = {"k": k, "kind": kind, "traced": traced, "ok": False}
        tracer = self.tracer if traced else None
        try:
            if tracer:
                tracer.iteration = k
                with tracer.span("iteration") as root:
                    release = self.wl.chain(out, tracer)
                rec["seconds"] = root.wall  # tracing overhead included
                stages = _iteration_stages(tracer, k)
            else:
                self.store.mark()
                t0 = time.perf_counter()
                release = self.wl.chain(out, None)
                rec["seconds"] = time.perf_counter() - t0
                stages = self.store.delta()
            rec["stages"] = stages
            rec["sink_bytes"], rec["sink_files"] = dir_stats(out)
            self.wl.check(out)
            if stages["failed_tasks"]:
                raise RuntimeError(f"{stages['failed_tasks']} failed Spark tasks")
            self.check_shuffle(stages)
            if tracer:
                self.wl.after_traced(tracer, self.layers)
            release()
            rec["ok"] = True
        except Exception as e:  # one failed iteration must not end the run
            rec["error"] = f"{type(e).__name__}: {e}"
            traceback.print_exc(file=sys.stderr)
        finally:
            if tracer:
                tracer.iteration = None
            shutil.rmtree(out, ignore_errors=True)
            sweep(self.spark)
        self.iterations.append(rec)
        print(f"# {self.wl.name} iteration {k} {kind}{' traced' if traced else ''}: "
              f"{rec.get('seconds', float('nan')):.3f} s{'' if rec['ok'] else ' FAILED'}",
              file=sys.stderr, flush=True)
        return rec

    def check_shuffle(self, stages: dict) -> None:
        """Status-store self-check: an unchanged plan over unchanged input
        writes the same shuffle records every iteration (bytes may differ
        slightly with compression, so they get a bound)."""
        if not self.wl.stable_shuffle:
            return
        first = next((r["stages"] for r in self.iterations if r["ok"]), None)
        if first is None:
            return
        recs, b0 = stages["shuffle_write_records"], first["shuffle_write_bytes"]
        if recs != first["shuffle_write_records"]:
            raise RuntimeError(f"shuffle records {recs} != first iteration's "
                               f"{first['shuffle_write_records']}")
        if abs(stages["shuffle_write_bytes"] - b0) > SHUFFLE_BYTES_TOL * b0:
            raise RuntimeError(f"shuffle bytes {stages['shuffle_write_bytes']} "
                               f"not within {SHUFFLE_BYTES_TOL:.0%} of {b0}")


def _iteration_stages(tracer, k: int) -> dict:
    total: dict = {}
    for s in tracer.spans:
        if s.iteration == k:
            for key, v in s.stages.items():
                total[key] = total.get(key, 0) + v
    return total


def timed_loop(runner: Runner, seconds: float, trace: bool) -> None:
    """Timed iterations that fit in ``seconds``, and never fewer than
    MIN_TIMED (MIN_TRACED_PAIRS when tracing). Traced runs alternate
    untraced and traced iterations so both see the same JIT and cache
    state, swapping the order in every other pair so that iteration
    times still falling with JIT warm-up do not favour either side."""
    least = MIN_TRACED_PAIRS if trace else MIN_TIMED
    t0 = time.perf_counter()
    n, last = 0, 0.0
    while n < least or time.perf_counter() - t0 + last <= seconds:
        t = time.perf_counter()
        for traced in ((n % 2 == 1, n % 2 == 0) if trace else (False,)):
            runner.iterate("timed", traced=traced)
        last = time.perf_counter() - t
        n += 1


def med(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else float("nan")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "validate_xml_rust_spark")):
        print("validate_xml_rust_spark package not found next to perfbench/",
              file=sys.stderr)
        return 2
    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work)
    os.makedirs(RUNS, exist_ok=True)

    from perfbench.tracing import (
        MB,
        MemorySampler,
        StatusStore,
        Tracer,
        cpu_times,
        process_age_seconds,
    )
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    steal0 = cpu_times()
    with MemorySampler() as mem:
        spark = start_session()
        session_s = process_age_seconds()
        try:
            wl = WORKLOADS[args.workload](spark, work, args.seed)
            gen = [wl.generate() for _ in range(3)]
            setup_s = session_s + statistics.median(gen)
            wl.prepare()
            store = StatusStore(spark)
            runner = Runner(spark, wl, store, Tracer(store) if args.trace else None)
            runner.iterate("cold")
            for _ in range(WARMUPS):
                runner.iterate("warmup")
            timed_loop(runner, args.seconds, bool(args.trace))
            if args.trace:
                traced_breakdown(runner)
        finally:
            peak_mem = mem.peak
            stop_session(spark)
    steal1 = cpu_times()

    its = runner.iterations
    timed = [r for r in its if r["kind"] == "timed" and not r["traced"] and r["ok"]]
    failed = sum(1 for r in its if not r["ok"])
    docs_per_s = wl.docs / med([r["seconds"] for r in timed]) if timed else float("nan")
    e2e = {
        "docs_per_s": (docs_per_s, "docs/s"),
        "cold_s": (its[0].get("seconds", float("nan")), "s"),
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (peak_mem / MB, "MB"),
        "sink_mb": (med([r["sink_bytes"] / MB for r in timed]), "MB"),
    }
    contract = load_contract()
    if set(contract["end_to_end"]) != set(e2e):
        raise SystemExit("BENCHMARK.json end_to_end metrics do not match run.py")
    shuffle_mb = med([r["stages"]["shuffle_write_bytes"] / MB for r in timed])
    for name, (value, unit) in e2e.items():
        print(f"{wl.name}/{name} {value:.6g} {unit}")
    # printed, not gated in BENCHMARK.json (NOTES.md, "End-to-end metrics")
    print(f"{wl.name}/shuffle_mb {shuffle_mb:.6g} MB")
    print(f"{wl.name}/fail_ratio {failed / len(its):.6g} ratio")
    print(f"{wl.name}/series_s {json.dumps([round(r['seconds'], 4) for r in timed])}")

    record = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "docs": wl.docs, "threads": THREADS,
        "heap": os.environ["SPARK_DRIVER_MEMORY"],
        "setup": {"session_s": session_s, "generate_s": gen},
        "iterations": its,
        "peak_split_mb": mem.peak_split,
        "steal_ratio": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
        "metrics": {k: v for k, (v, _u) in e2e.items()},
        "shuffle_mb": shuffle_mb,
    }
    if args.trace:
        layers = runner.layers
        layers["session.start_s"] = session_s
        layers["sources.generate_s"] = statistics.median(gen)
        layers["outputs.files"] = med([r["sink_files"] for r in timed])
        layers.update(spark_layers(timed))
        layers["host.steal_ratio"] = record["steal_ratio"]
        traced = [r for r in its if r["kind"] == "timed" and r["traced"] and r["ok"]]
        traced_dps = wl.docs / med([r["seconds"] for r in traced]) if traced else float("nan")
        layers["trace.overhead_ratio"] = 1 - traced_dps / docs_per_s
        # layers a workload does not reach stay at zero
        for name, unit in contract["per_layer"].items():
            layers.setdefault(name, 0)
            print(f"{wl.name}/{name} {layers[name]:.6g} {unit}")
        print(f"{wl.name}/traced_docs_per_s {traced_dps:.6g} docs/s")
        record["layers"] = layers
        spans_path = os.path.join(RUNS, f"spans-{wl.name}-seed{args.seed}.json")
        with open(spans_path, "w") as f:
            json.dump(runner.tracer.as_records(), f)
        print(f"# spans written to {os.path.relpath(spans_path, ROOT)}", file=sys.stderr)
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    if args.trace:
        metrics.update({k: {"value": layers[k], "unit": u}
                        for k, u in contract["per_layer"].items()})
    record_path = os.path.join(
        RUNS, f"{wl.name}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json")
    with open(record_path, "w") as f:
        json.dump(record, f)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": len(its), "failed": failed,
        "metrics": metrics,
    }))
    return 0 if failed == 0 else 1


def load_contract() -> dict:
    """Metric names and units, from BENCHMARK.json at the checkout root."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {key: {m["name"]: m["unit"] for m in bench[key]}
            for key in ("end_to_end", "per_layer")}


def traced_breakdown(runner: Runner) -> None:
    """Per-layer metrics; a failure here counts as one failed attempt."""
    rec = {"k": len(runner.iterations), "kind": "breakdown", "traced": True, "ok": False}
    try:
        traced_ks = [r["k"] for r in runner.iterations if r["traced"] and r["ok"]]
        runner.wl.traced_layers(runner.tracer, traced_ks, runner.layers)
        runner.wl.decompose(runner.tracer, runner.layers)
        rec["ok"] = True
    except Exception as e:
        rec["error"] = f"{type(e).__name__}: {e}"
        traceback.print_exc(file=sys.stderr)
    finally:
        sweep(runner.spark)
    runner.iterations.append(rec)


def spark_layers(timed: list[dict]) -> dict:
    from perfbench.tracing import MB

    def m(key, scale=1.0):
        return med([r["stages"][key] * scale for r in timed])

    wall = med([r["seconds"] for r in timed])
    run_s = m("run_ms", 1e-3)
    return {
        "spark.run_s": run_s,
        "spark.cpu_s": m("cpu_ns", 1e-9),
        "spark.gc_s": m("gc_ms", 1e-3),
        "spark.shuffle_write_mb": m("shuffle_write_bytes", 1 / MB),
        "spark.shuffle_read_mb": m("shuffle_read_bytes", 1 / MB),
        "spark.spill_mb": m("spill_bytes", 1 / MB),
        "spark.jobs": m("jobs"),
        "spark.stages": m("stages"),
        "spark.tasks": m("tasks"),
        "spark.failed_tasks": m("failed_tasks"),
        "spark.slot_idle_ratio": 1 - run_s / (wall * THREADS),
    }


if __name__ == "__main__":
    sys.exit(main())
