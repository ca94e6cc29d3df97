"""Repeat the benchmark over seeds and summarise each metric's spread.

    python3 perfbench/steady.py --seeds 1-10 --out runs.jsonl
    python3 perfbench/steady.py --summarise runs.jsonl

The first form runs ``run.py --trace 0`` once per (seed, workload) for
every workload in BENCHMARK.json, workloads interleaved, and appends
one JSON line per run. The second prints, per workload and end-to-end
metric, the median, the quartiles (``statistics.quantiles(values,
n=4)``), the spread (q3 - q1) / median and its ratio to the metric's
bound in BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(bench: dict, seed_list: list[int], out: Path) -> None:
    for seed in seed_list:
        for w in bench["workloads"]:
            t0 = time.time()
            proc = subprocess.run(
                [*bench["command"], "--workload", w["name"], "--seed",
                 str(seed), "--seconds", str(bench["run_seconds"]),
                 "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True)
            last = (proc.stdout.strip().splitlines() or [""])[-1]
            # run.py reports each op's untraced walls on stderr
            walls = [json.loads(line[len("op walls: "):])
                     for line in proc.stderr.splitlines()
                     if line.startswith("op walls: ")]
            rec = {"workload": w["name"], "seed": seed,
                   "rc": proc.returncode,
                   "elapsed_s": round(time.time() - t0, 1),
                   "result": json.loads(last) if proc.returncode == 0
                   else None,
                   "op_walls": walls[-1] if walls else None}
            with out.open("a") as fh:
                fh.write(json.dumps(rec) + "\n")
            print(json.dumps(rec), flush=True)


def summarise(bench: dict, path: Path) -> dict:
    recs = [json.loads(line) for line in path.read_text().splitlines()]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    out = {}
    for w in bench["workloads"]:
        mine = [r for r in recs if r["workload"] == w["name"]]
        ok = [r for r in mine if r["result"] and r["result"]["correct"]]
        row = {"runs": len(mine), "correct_runs": len(ok),
               "elapsed_s_median": statistics.median(
                   r["elapsed_s"] for r in mine) if mine else None}
        for name, bound in bounds.items():
            vals = [r["result"]["metrics"][name]["value"] for r in ok]
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            row[name] = {"median": med, "q1": q1, "q3": q3,
                         "spread": round(spread, 4),
                         "spread_over_bound": round(spread / bound, 3)}
        out[w["name"]] = row
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", help="inclusive range, e.g. 1-10")
    ap.add_argument("--out", type=Path, help="JSON-lines file to append")
    ap.add_argument("--summarise", type=Path)
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.summarise:
        print(json.dumps(summarise(bench, args.summarise), indent=2))
        return 0
    if not (args.seeds and args.out):
        ap.error("--seeds and --out are required to run")
    run(bench, seeds(args.seeds), args.out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
