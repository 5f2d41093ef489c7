"""Sustained-volume e2e datapoint (round-4 item #7).

Runs the synthetic KG-construction e2e at a turn count large enough that
the working set exceeds page cache / fits no single executor (default
64M turns ~ 16x the bench.py corpus), to show triples/sec holds at
volume.  Same job as bench.py's kg_synthetic_e2e; laps disclosed.

Usage: python tools/bench_sustained.py [--turns 64000000] [--laps 2]
Prints one JSON line; paste into BASELINE.md.
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.hostsize import CPUS, HEAP_GB  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--turns", type=int, default=64_000_000)
    ap.add_argument("--laps", type=int, default=2)
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    spark = (SparkSession.builder
             .master(f"local[{CPUS}]")
             .appName("versa_spark-bench-sustained")
             .config("spark.sql.shuffle.partitions", str(CPUS * 2))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.driver.memory", f"{HEAP_GB}g")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.ui.enabled", "false")
             .getOrCreate())

    from versa_spark.kg.graph import build_graph
    from versa_spark.kg.transcripts import ordered_turns, synthetic_transcripts

    n_convs = max(1, args.turns // 25)
    laps, n_triples = [], 0
    for _ in range(args.laps):
        spark.catalog.clearCache()
        t0 = time.time()
        tx = synthetic_transcripts(spark, n_convs=n_convs, turns_per_conv=25)
        turns = ordered_turns(tx)
        n_triples = build_graph(spark, turns)["graph"].count()
        laps.append(round(time.time() - t0, 3))
    best = min(laps)
    print(json.dumps({
        "metric": "kg_synthetic_e2e_sustained",
        "turns": n_convs * 25,
        "laps_sec": laps,
        "triples": n_triples,
        "triples_per_sec_best": round(n_triples / best, 1),
        "triples_per_sec_laps": [round(n_triples / w, 1) for w in laps],
        "cpus": CPUS,
    }, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
