"""Warm-up study: one long run per workload, every op's latency kept.

    python3 perfbench/warmup_study.py --seed 11 --factor 3 --out perfbench/evidence/warmup_study.json

Each workload runs once as ``run.py`` would run it (same set-up,
warm-up, knobs and checks), except that its timed op counts are
multiplied by ``--factor``. The run's metadata goes to ``--out``; its
``warmup_ms`` and ``op_ms`` list every op's latency in order, from which
README.md reads how many ops the medians take to settle.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from run import HERE, WORKLOADS, launch

#: runs in the launched child: lengthen the timed sequences, then run
#: the worker as usual
CHILD = """
import sys, workloads, worker
f = int(sys.argv[1])
workloads.ServeTopK.READS *= f
workloads.IngestMixed.UPDATES *= f
workloads.CurateRag.UPDATES *= f
sys.exit(worker.main(sys.argv[2:]))
"""


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seed", type=int, default=11)
    p.add_argument("--factor", type=int, default=3)
    p.add_argument("--workloads", nargs="*", default=list(WORKLOADS))
    p.add_argument("--out", default=os.path.join(HERE, ".work", "warmup_study.json"))
    args = p.parse_args(argv)
    report = {"factor": args.factor}
    for w in args.workloads:
        path = os.path.join(HERE, ".work", f"warmup-{w}.out")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w+") as out:
            rc = launch(
                ["-c", CHILD, str(args.factor), "--workload", w, "--seed", str(args.seed), "--trace", "0"],
                timeout_s=600,
                stdout=out,
            )
            out.seek(0)
            lines = out.read().strip().splitlines()
        if rc != 0 or len(lines) < 2:
            print(f"warmup_study: {w} exited {rc}", file=sys.stderr)
            return 1
        report[w] = {"meta": json.loads(lines[-2])["meta"], "result": json.loads(lines[-1])}
        print(f"{w}: failed {report[w]['result']['failed']}/{report[w]['result']['attempted']}", file=sys.stderr)
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
