"""Run a workload over several seeds and summarise each metric's spread.

    python3 perfbench/spread.py --workload dense_join --seeds 1-10 --out a.jsonl
    python3 perfbench/spread.py --workload dense_join --results a.jsonl --against b.jsonl

For every end-to-end metric it prints the median over the runs and the
distance between the first and third quartile as a share of the median,
next to the metric's bound in BENCHMARK.json.  With --against it also
prints by how much the second set's median is worse than the first's.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402


def parse_seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_seeds(workload: str, seeds, seconds: int, out_path: str) -> list[dict]:
    results = []
    with open(out_path, "a") as out:
        for seed in seeds:
            proc = subprocess.run(
                [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
                 "--workload", workload, "--seed", str(seed),
                 "--seconds", str(seconds), "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True)
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            out.write(json.dumps(res) + "\n")
            out.flush()
            results.append(res)
            print(f"seed {seed}: correct={res['correct']}", file=sys.stderr)
    return results


def load(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def summarise(bench: dict, runs: list[dict], against: list[dict] = None):
    print(f"{'metric':14s} {'median':>12s} {'iqr/med':>8s} {'bound':>6s}"
          + (f" {'worse_by':>9s}" if against else ""))
    for m in bench["end_to_end"]:
        v = [r["metrics"][m["name"]]["value"] for r in runs]
        line = (f"{m['name']:14s} {stats.median(v):12.5g} "
                f"{stats.iqr_share(v):8.3f} {m['bound']:6.2f}")
        if against:
            w = [r["metrics"][m["name"]]["value"] for r in against]
            line += f" {stats.worse_by(v, w, m['better']):9.3f}"
        print(line)
    print(f"{len(runs)} runs, "
          f"{sum(not r['correct'] for r in runs)} with a failed operation")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", help="workload to run with --seeds")
    ap.add_argument("--seeds", help="e.g. 1-10 or 1,4,7")
    ap.add_argument("--out", help="append each run's JSON line here")
    ap.add_argument("--results", help="summarise these saved runs instead")
    ap.add_argument("--against", help="saved runs to compare with")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.results:
        runs = load(args.results)
    elif args.workload and args.seeds and args.out:
        runs = run_seeds(args.workload, parse_seeds(args.seeds),
                         bench["run_seconds"], args.out)
    else:
        ap.error("give --workload, --seeds and --out, or --results")
    summarise(bench, runs, load(args.against) if args.against else None)


if __name__ == "__main__":
    main()
