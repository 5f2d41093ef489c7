"""Tracing overhead: traced median minus untraced median, per end-to-end
metric, over interleaved untraced/traced runs of one workload.

    python3 kgbench/overhead.py --workload kg_ingest --seeds 1,2 --seconds 20

Run from the root of a checkout.  Every run prints its end-to-end values,
the op latency included, on an ``e2e`` line.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload: str, seed: int, seconds: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", seconds,
         "--trace", str(trace)],
        stdout=subprocess.PIPE, text=True, check=True)
    line = next(x for x in p.stdout.splitlines()
                if x.strip().startswith("e2e "))
    return json.loads(line.strip()[4:])


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--seconds", default="20")
    args = ap.parse_args()
    runs: dict[int, list[dict]] = {0: [], 1: []}
    for i, seed in enumerate(int(s) for s in args.seeds.split(",")):
        # alternate which side runs first
        for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
            runs[trace].append(run(args.workload, seed, args.seconds, trace))
    print(f"{'metric':<22} {'untraced':>10} {'traced':>10} {'overhead':>10}")
    for k in runs[0][0]:
        u = statistics.median(r[k] for r in runs[0])
        t = statistics.median(r[k] for r in runs[1])
        print(f"{k:<22} {u:10.4g} {t:10.4g} {t - u:+10.4g}")


if __name__ == "__main__":
    main()
