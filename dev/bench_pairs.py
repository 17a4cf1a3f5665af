#!/usr/bin/env python3
"""Paired benchmark of this working tree against a parent checkout.

    python3 dev/bench_pairs.py --parent DIR --seeds 21-30 [--workloads transcripts corpus_ops]
                               [--seconds 15] [--traced K] [--log FILE]
    python3 dev/bench_pairs.py --from-log FILE

For each seed and workload it runs `python3 perfbench/run.py --trace 0` once
in the parent checkout and once in the working tree, one after the other,
alternating which side goes first. It then prints, for every workload and
every end-to-end metric declared in BENCHMARK.json, each side's median and
quartiles, how many pairs the change won, and a verdict:

  gain          the change won at least nine tenths of the pairs (ties
                count for neither side) and the medians differ by more
                than the parent's interquartile range
  within bound  the change's median is no worse than the parent's by more
                than the metric's relative bound
  worse         the change's median is worse than that bound
  unresolved    either side's interquartile range, relative to its median,
                exceeds the bound, and not every change run beats every
                parent run

Runs that fail or report `correct: false` or `failed > 0` are counted and
printed.

Before the pairs, each checkout is prepared so that no pair pays for a build
or a class-data-sharing dump. `perfbench/run.py` maps `.bench_build/classes.jsa`,
which is tied to the jars it was dumped against; an sbt command that
repackaged an in-checkout jar since (`target/...jar`, listed in
`.bench_build/classpath.txt`) makes the JVM drop it silently, and the first
session start of every run slows by seconds. A stale archive is deleted, and
then one untimed throwaway run per side and workload rebuilds what is
missing and dumps the archive again; both are reported on stderr.

With `--traced K`, after the pairs it runs `--trace 1` K times per side and
workload, alternating which side goes first, on the first K seeds (cycled).
It then prints, for every per-layer metric of BENCHMARK.json that is not
zero on both sides, each side's median over the K runs and its range, so
the layer that moved (jobs, scheduler gaps, shuffle bytes) is read off the
same tool as the end-to-end verdict.

`--log` appends one JSON line per run, so a summary can be printed again
with `--from-log` without running anything. Nothing is written under
perfbench/; each checkout keeps its own build in its .bench_build/.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def parse_seeds(spec):
    seeds = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def run_once(checkout, workload, seed, seconds, trace=0):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          stdin=subprocess.DEVNULL, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    except ValueError:
        result = None
    return result


def drop_stale_cds(checkout):
    """Deletes the checkout's class-data-sharing archive if an in-checkout jar
    on the runner's classpath is newer than it; returns whether it did."""
    state = checkout / ".bench_build"
    jsa, cp_file = state / "classes.jsa", state / "classpath.txt"
    if not (jsa.exists() and cp_file.exists()):
        return False
    dumped = jsa.stat().st_mtime
    for entry in cp_file.read_text().strip().split(os.pathsep):
        jar = Path(entry)
        if (jar.suffix == ".jar" and jar.is_relative_to(checkout) and jar.exists()
                and jar.stat().st_mtime > dumped):
            jsa.unlink()
            return True
    return False


def prepare(sides, workloads, seed, seconds):
    """Makes each checkout's next runs start from a current build and archive:
    drops a stale archive, then runs every workload once and discards it."""
    for side, checkout in sides.items():
        if drop_stale_cds(checkout):
            print(f"[pairs] {side}: deleted .bench_build/classes.jsa, older than a jar it maps",
                  file=sys.stderr, flush=True)
        for workload in workloads:
            print(f"[pairs] {side}: untimed throwaway run of {workload} (seed {seed}) before the pairs",
                  file=sys.stderr, flush=True)
            if run_once(checkout, workload, seed, seconds) is None:
                print(f"[pairs] {side}: the throwaway run of {workload} produced no result",
                      file=sys.stderr, flush=True)


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def verdict(metric, pairs):
    """pairs: [(parent, change)] for one metric; returns the summary line."""
    lower = metric["better"] == "lower"
    bound = metric["bound"]
    par = [p for p, _ in pairs]
    chg = [c for _, c in pairs]
    wins = sum((c < p) if lower else (c > p) for p, c in pairs)
    (pq1, pm, pq3), (cq1, cm, cq3) = quartiles(par), quartiles(chg)
    gap = (pm - cm) if lower else (cm - pm)
    worse_by = -gap / abs(pm) if pm else 0.0
    spread = max((pq3 - pq1) / abs(pm) if pm else 0.0, (cq3 - cq1) / abs(cm) if cm else 0.0)
    all_better = (max(chg) < min(par)) if lower else (min(chg) > max(par))
    if wins >= 0.9 * len(pairs) and gap > pq3 - pq1:
        v = "gain"
    elif spread > bound and not all_better:
        v = "unresolved"
    elif worse_by > bound:
        v = "worse"
    else:
        v = "within bound"
    return (f"  {metric['name']:<12} parent {pm:10.4g} [{pq1:.4g}, {pq3:.4g}]  "
            f"change {cm:10.4g} [{cq1:.4g}, {cq3:.4g}]  wins {wins}/{len(pairs)}  {v}")


def summarize_traced(records, metrics):
    for workload in sorted({r["workload"] for r in records}):
        runs = {side: [r["result"]["metrics"] for r in records
                       if r["workload"] == workload and r["side"] == side and r["result"]]
                for side in ("parent", "change")}
        print(f"{workload} traced: parent {len(runs['parent'])} runs, "
              f"change {len(runs['change'])} runs (median [min, max])")
        if not (runs["parent"] and runs["change"]):
            continue
        for m in metrics:
            vals = {side: [r[m["name"]]["value"] for r in rs if m["name"] in r]
                    for side, rs in runs.items()}
            if not (vals["parent"] and vals["change"]) or not any(vals["parent"] + vals["change"]):
                continue
            shown = "  ".join(f"{side} {statistics.median(v):10.4g} [{min(v):.4g}, {max(v):.4g}]"
                              for side, v in vals.items())
            print(f"  {m['name']:<32} {shown}")


def summarize(records, metrics):
    for workload in sorted({r["workload"] for r in records}):
        by_seed = {}
        for r in records:
            if r["workload"] == workload:
                by_seed.setdefault(r["seed"], {})[r["side"]] = r["result"]
        bad = {side: sum(1 for s in by_seed.values() if side in s and (
            s[side] is None or not s[side]["correct"] or s[side]["failed"] > 0))
            for side in ("parent", "change")}
        full = [s for s in by_seed.values()
                if all(s.get(side) is not None for side in ("parent", "change"))]
        print(f"{workload}: {len(full)} complete pairs; failed or incorrect runs: "
              f"parent {bad['parent']}, change {bad['change']}")
        for m in metrics:
            pairs = [(s["parent"]["metrics"][m["name"]]["value"],
                      s["change"]["metrics"][m["name"]]["value"]) for s in full]
            if pairs:
                print(verdict(m, pairs))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", help="checkout of the parent commit (git clone, not worktree)")
    ap.add_argument("--seeds", help="e.g. 21-30 or 3,5,8")
    ap.add_argument("--workloads", nargs="+", default=["transcripts", "corpus_ops"])
    ap.add_argument("--seconds", type=int, default=None,
                    help="defaults to run_seconds in BENCHMARK.json")
    ap.add_argument("--traced", type=int, default=0, metavar="K",
                    help="after the pairs, K traced runs per side and workload")
    ap.add_argument("--log", help="append one JSON line per run to this file")
    ap.add_argument("--from-log", help="print the summary of a log and exit")
    args = ap.parse_args()

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    metrics = bench["end_to_end"]

    def report(records):
        summarize([r for r in records if not r.get("trace")], metrics)
        traced = [r for r in records if r.get("trace")]
        if traced:
            summarize_traced(traced, bench["per_layer"])

    if args.from_log:
        report([json.loads(l) for l in Path(args.from_log).read_text().splitlines() if l])
        return
    if not (args.parent and args.seeds):
        ap.error("--parent and --seeds are required unless --from-log is given")
    seconds = args.seconds or bench["run_seconds"]
    sides = {"parent": Path(args.parent).resolve(), "change": ROOT}
    seeds = parse_seeds(args.seeds)
    records = []

    def run_pair(i, seed, workload, trace):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            result = run_once(sides[side], workload, seed, seconds, trace)
            rec = {"workload": workload, "seed": seed, "side": side, "trace": trace,
                   "result": result}
            records.append(rec)
            shown = ({k: v["value"] for k, v in result["metrics"].items() if v["value"]}
                     if result else None)
            print(f"[pairs] {workload} seed {seed} {side} trace {trace}: {shown}",
                  file=sys.stderr, flush=True)
            if args.log:
                with open(args.log, "a") as f:
                    f.write(json.dumps(rec) + "\n")

    prepare(sides, args.workloads, seeds[0], seconds)
    for i, seed in enumerate(seeds):
        for workload in args.workloads:
            run_pair(i, seed, workload, 0)
    for i in range(args.traced):
        for workload in args.workloads:
            run_pair(i, seeds[i % len(seeds)], workload, 1)
    report(records)


if __name__ == "__main__":
    main()
