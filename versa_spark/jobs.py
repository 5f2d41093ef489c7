"""spark-submit job entrypoints.

Production shape (north rule):

    spark-submit --py-files versa_spark.zip -m versa_spark.jobs kg \\
        --input  /path/to/transcripts_parquet_or_iceberg \\
        --workdir /path/to/checkpointed_workdir \\
        [--synthetic-turns N]

Reads the transcript table (or synthesizes one deterministically for
capacity tests), runs the checkpointed KG job (versa_spark.kg.job), and
prints counter metrics as one JSON line.  Re-running with the same workdir
and --fingerprint resumes after the last completed stage.
"""

from __future__ import annotations

import argparse
import json
import sys


def kg_main(argv) -> int:
    ap = argparse.ArgumentParser(prog="versa_spark.jobs kg")
    ap.add_argument("--input", default=None,
                    help="transcript parquet path (conv_id, turn_idx, role,"
                         " text, tool, ts)")
    ap.add_argument("--synthetic-turns", type=int, default=None,
                    help="synthesize this many turns instead of reading")
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--fingerprint", default="v1",
                    help="input lineage fingerprint; unchanged = resume")
    ap.add_argument("--dictionary", default=None,
                    help="parquet gazetteer (surface, canonical, "
                         "entity_iri); with --detect dictionary, mention "
                         "detection joins token n-grams against it "
                         "instead of the built-in lexicon regex")
    ap.add_argument("--detect", default="lexicon",
                    choices=("lexicon", "dictionary"),
                    help="detection surface set (see kg.job.KGJob and "
                         "kg.graph.mention_linker)")
    ap.add_argument("--append-batch", default=None, metavar="BATCH_ID",
                    help="grow a completed workdir by this input as an "
                         "O(batch) incremental append (KGJob.append_batch) "
                         "instead of a base run")
    ap.add_argument("--on-existing", default="error",
                    choices=("error", "skip", "trust"),
                    help="append mode: conv_ids already in the base "
                         "raise / get dropped / aren't scanned for")
    ap.add_argument("--relations", default=None, metavar="VERB[,VERB…]",
                    help="also extract verb-linked relation triples with "
                         "this closed connector set (kg.extract."
                         "turn_relations); folded into the stage "
                         "fingerprint")
    ap.add_argument("--compact-to", default=None, metavar="NEW_WORKDIR",
                    help="instead of running, rewrite --workdir's base + "
                         "batches into NEW_WORKDIR (KGJob.compact_to); "
                         "no --input needed")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession
    spark = SparkSession.builder.appName("versa-spark-kg").getOrCreate()

    from versa_spark.kg.job import KGJob
    rels = (tuple(v for v in args.relations.split(",") if v)
            if args.relations else None)
    if args.compact_to:
        dictionary = (spark.read.parquet(args.dictionary)
                      if args.dictionary else None)
        job = KGJob(spark, args.workdir, dictionary=dictionary,
                    detect=args.detect, relations=rels)
        cj = job.compact_to(args.compact_to,
                            input_fingerprint=args.fingerprint)
        print(json.dumps({"metrics": cj.metrics,
                          "graph_rows": cj.table("graph").count(),
                          "edge_rows": cj.table("edges").count()},
                         separators=(",", ":"), default=str))
        spark.stop()
        return 0
    if args.synthetic_turns:
        from versa_spark.kg.transcripts import synthetic_transcripts
        tx = synthetic_transcripts(
            spark, n_convs=max(1, args.synthetic_turns // 25),
            turns_per_conv=25)
    elif args.input:
        tx = spark.read.parquet(args.input)
    else:
        raise SystemExit("one of --input / --synthetic-turns is required")

    dictionary = (spark.read.parquet(args.dictionary)
                  if args.dictionary else None)
    job = KGJob(spark, args.workdir, dictionary=dictionary,
                detect=args.detect, relations=rels)
    if args.append_batch:
        out = job.append_batch(tx, args.append_batch,
                               input_fingerprint=args.fingerprint,
                               on_existing=args.on_existing)
        graph_rows = job.table("graph").count()
        edge_rows = job.table("edges").count()
    else:
        out = job.run(tx, input_fingerprint=args.fingerprint)
        graph_rows = out["graph"].count()
        edge_rows = out["edges"].count()
    print(json.dumps({"metrics": job.metrics,
                      "graph_rows": graph_rows,
                      "edge_rows": edge_rows},
                     separators=(",", ":"), default=str))
    spark.stop()
    return 0


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if not argv:
        raise SystemExit("usage: versa_spark.jobs <kg> [args]")
    cmd, rest = argv[0], argv[1:]
    if cmd == "kg":
        return kg_main(rest)
    raise SystemExit(f"unknown job {cmd!r}")


if __name__ == "__main__":
    raise SystemExit(main())
