"""Run-to-run spread of the end-to-end metrics, in two alternating sets.

    python3 perfbench/spread.py --runs 10 --sets 2 --out perfbench/evidence/spread.json
    python3 perfbench/spread.py --workloads curate_rag --runs 5 --sets 1

For each workload, run i of set s uses seed ``1000 * s + i``; runs go
set 0, set 1, set 0, ... so host drift lands on both sets. For each set
and metric it reports the median and the interquartile range as a share
of the median (``statistics.quantiles(values, n=4)``), and for each
metric the shift of set 1's median from set 0's, checked against the
metric's bound in BENCHMARK.json. Every run's result and metadata (load,
CPU steal, GC, JIT) goes to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int) -> dict:
    t = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}: {proc.stderr[-2000:]}")
    return {
        "seed": seed,
        "wall_s": time.perf_counter() - t,
        "meta": json.loads(lines[-2])["meta"],
        "result": json.loads(lines[-1]),
    }


def summarize(runs: list[dict], bounds: dict[str, float]) -> dict:
    out = {}
    for name, bound in bounds.items():
        per_set = {}
        for s in sorted({r["set"] for r in runs}):
            vals = [r["result"]["metrics"][name]["value"] for r in runs if r["set"] == s]
            if len(vals) < 2:
                per_set[s] = {"median": vals[0], "iqr_share": 0.0, "values": vals}
                continue
            q1, q2, q3 = statistics.quantiles(vals, n=4)
            per_set[s] = {"median": q2, "iqr_share": (q3 - q1) / q2, "values": vals}
        row = {"bound": bound, "sets": per_set}
        if len(per_set) > 1:
            row["shift_share"] = per_set[1]["median"] / per_set[0]["median"] - 1
        out[name] = row
    return out


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workloads", nargs="*", default=[w["name"] for w in bench["workloads"]])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--sets", type=int, default=2, choices=(1, 2))
    p.add_argument("--out", default=os.path.join(HERE, ".work", "spread.json"))
    args = p.parse_args(argv)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {}
    for w in args.workloads:
        runs = []
        for i in range(args.runs):
            for s in range(args.sets):
                r = run_once(w, 1000 * s + i, bench["run_seconds"])
                r["set"] = s
                runs.append(r)
                print(f"{w} set {s} seed {r['seed']}: {r['wall_s']:.1f} s, "
                      f"failed {r['result']['failed']}/{r['result']['attempted']}", file=sys.stderr)
        report[w] = {"summary": summarize(runs, bounds), "runs": runs}
        for name, row in report[w]["summary"].items():
            sets = " ".join(
                f"set{s}: med {v['median']:.4g} iqr {v['iqr_share']:.3f}" for s, v in row["sets"].items()
            )
            shift = f" shift {row['shift_share']:+.3f}" if "shift_share" in row else ""
            print(f"{w:13s} {name:14s} bound {row['bound']:.2f} {sets}{shift}")
        walls = [r["wall_s"] for r in runs]
        steal = [r["meta"]["steal_share"] for r in runs]
        print(f"{w:13s} runs {len(runs)}: wall {min(walls):.1f}-{max(walls):.1f} s "
              f"(median {statistics.median(walls):.1f}), steal {min(steal):.3f}-{max(steal):.3f}")
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
