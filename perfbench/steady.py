"""Steadiness tool: repeat benchmark runs over seeds and compare two sets.

    python3 perfbench/steady.py run --set A --workload validate_pages --seeds 1-10
    python3 perfbench/steady.py report A [B]

``run`` runs ``perfbench/run.py`` once per seed, one after another, and
files each run's record under ``perfbench/.runs/<set>/``. ``report``
prints, per workload and end-to-end metric, each set's median, quartiles
and spread (interquartile range over median), the shift of the second
set's median against the first, and flags every run whose timed
iterations still trend (mean of the second half more than TREND below or
above the first half) and every run that met a busy host (more than STEAL
of the machine's CPU time stolen by the hypervisor during the run). A set
with flagged busy-host runs does not verify the benchmark; run it again.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = os.path.join(HERE, ".runs")
TREND = 0.05
STEAL = 0.03


def run_seconds() -> float:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)["run_seconds"]


def seed_list(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_set(args) -> int:
    dest = os.path.join(RUNS, args.set)
    os.makedirs(dest, exist_ok=True)
    bad = 0
    for seed in seed_list(args.seeds):
        cmd = [sys.executable, os.path.join(HERE, "run.py"),
               "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(run_seconds()), "--trace", "0"]
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                stderr=subprocess.DEVNULL, text=True)
        out, _ = proc.communicate()
        last = out.strip().splitlines()[-1] if out.strip() else ""
        rec = os.path.join(RUNS, f"{args.workload}-seed{seed}-trace0-{proc.pid}.json")
        if proc.returncode == 0 and os.path.exists(rec):
            shutil.move(rec, dest)
        else:
            bad += 1
        print(f"{args.workload} seed {seed}: exit {proc.returncode} {last[:100]}", flush=True)
    return 1 if bad else 0


def load(set_name: str) -> list[dict]:
    path = set_name if os.path.isdir(set_name) else os.path.join(RUNS, set_name)
    return [json.load(open(f)) for f in sorted(glob.glob(os.path.join(path, "*.json")))]


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def trend(series: list[float]) -> float:
    """Relative change from the first half's mean to the second half's."""
    h = len(series) // 2
    if h == 0:
        return 0.0
    a, b = statistics.fmean(series[:h]), statistics.fmean(series[-h:])
    return (b - a) / a


def report(args) -> int:
    sets = [(name, load(name)) for name in args.sets]
    workloads = sorted({r["workload"] for _, recs in sets for r in recs})
    for wl in workloads:
        print(f"== {wl}")
        by_set = [(n, [r for r in recs if r["workload"] == wl]) for n, recs in sets]
        metrics = sorted({m for _, rs in by_set for r in rs for m in r["metrics"]})
        print(f"{'metric':<14}" + "".join(
            f"{n + ' n':>6}{'q1':>12}{'median':>12}{'q3':>12}{'spread':>8}" for n, _ in by_set)
            + ("   shift" if len(by_set) == 2 else ""))
        for m in metrics:
            line, medians = f"{m:<14}", []
            for _n, rs in by_set:
                xs = [r["metrics"][m] for r in rs if m in r["metrics"]]
                q1, q2, q3 = quartiles(xs)
                medians.append(q2)
                line += f"{len(xs):>6}{q1:>12.5g}{q2:>12.5g}{q3:>12.5g}{(q3 - q1) / q2:>8.3f}"
            if len(medians) == 2:
                line += f"{(medians[1] - medians[0]) / medians[0]:>+8.3f}"
            print(line)
        for n, rs in by_set:
            for r in rs:
                series = [i["seconds"] for i in r["iterations"]
                          if i["kind"] == "timed" and not i["traced"] and i["ok"]]
                t = trend(series)
                if abs(t) > TREND:
                    print(f"  trending: set {n} seed {r['seed']}: {t:+.1%} "
                          f"over {len(series)} timed iterations")
                if r["steal_ratio"] > STEAL:
                    print(f"  busy host: set {n} seed {r['seed']}: "
                          f"steal {r['steal_ratio']:.1%} of CPU time")
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--set", required=True)
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", required=True, help="e.g. 1-10 or 1,4,7")
    p = sub.add_parser("report")
    p.add_argument("sets", nargs="+")
    args = ap.parse_args(argv)
    return run_set(args) if args.cmd == "run" else report(args)


if __name__ == "__main__":
    sys.exit(main())
