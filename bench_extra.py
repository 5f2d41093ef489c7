"""Round-7 auxiliary benchmark — NOT the driver's bench (bench.py is
frozen for measurement; this file exists for guide §1.4-style isolation).

Differences from bench.py, on purpose:

* every headline query is timed into the **noop sink**
  (``df.write.format("noop")``), which materializes every column of
  every row — bench.py's ``.count()`` lets the optimizer prune
  projections (guide §1.4), and two round-7 changes (the project-late
  conversation links and the dropped redundant ``.distinct()``) widen
  that count-vs-materialize gap, so this file keeps the
  full-materialization cost on the record alongside bench.py's numbers;
* jobs are labelled (``setJobDescription``) so a UI/event-log session
  maps stages back to queries;
* the synthetic e2e lap is measured both ways (count, like bench.py,
  and noop).

Usage:  SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=... python bench_extra.py
Prints one JSON line: medians of 3 noop laps per query (seconds).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tools.hostsize import CPUS, HEAP_GB  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SYNTH_TURNS = int(os.environ.get("SPARK_GRAFT_SYNTH_TURNS", "4000000"))


def build_spark():
    from pyspark.sql import SparkSession
    return (SparkSession.builder
            .master(f"local[{CPUS}]")
            .appName("versa_spark-bench-extra")
            .config("spark.sql.shuffle.partitions", str(CPUS * 2))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.driver.memory", f"{HEAP_GB}g")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.ui.enabled", "false")
            .getOrCreate())


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    spark = build_spark()
    sc = spark.sparkContext
    import __spark_entry__ as entrymod
    queries = {**entrymod.queries(), "ann_topk": entrymod._q_ann_topk}
    headline = ["kg_graph_triples", "kg_mentions", "kg_entity_stats",
                "follow_hops", "match_rel", "minhash_lsh", "ann_topk",
                "token_quality"]
    for name in headline:                       # warmup, like bench.py
        noop(queries[name](spark, "/root/testdata/sf0.001"))
    spark.catalog.clearCache()

    laps: list[dict[str, float]] = []
    for _ in range(3):
        lap: dict[str, float] = {}
        spark.catalog.clearCache()
        for name in headline:
            sc.setJobDescription(f"noop:{name}")
            t0 = time.time()
            noop(queries[name](spark, SF_DIR))
            lap[name] = round(time.time() - t0, 3)
        sc.setJobDescription(None)
        laps.append(lap)
    timings = {n: sorted(lap[n] for lap in laps)[1] for n in headline}

    from versa_spark.kg.graph import build_graph
    from versa_spark.kg.transcripts import ordered_turns, synthetic_transcripts
    n_convs = max(1, SYNTH_TURNS // 25)
    e2e = {"count": [], "noop": []}
    for kind in ("count", "noop"):
        for _ in range(3):
            spark.catalog.clearCache()
            sc.setJobDescription(f"e2e:{kind}")
            t0 = time.time()
            g = build_graph(spark, ordered_turns(synthetic_transcripts(
                spark, n_convs=n_convs, turns_per_conv=25)))["graph"]
            g.count() if kind == "count" else noop(g)
            e2e[kind].append(round(time.time() - t0, 3))
        sc.setJobDescription(None)
    timings["kg_synthetic_e2e_count"] = sorted(e2e["count"])[1]
    timings["kg_synthetic_e2e_noop"] = sorted(e2e["noop"])[1]

    print(json.dumps({
        "metric": "noop_isolation_medians",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "queries_laps": laps,
        "e2e_laps": e2e,
        "sf": SF_DIR.rstrip("/").rsplit("sf", 1)[-1],
        "cpus": CPUS,
    }, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
