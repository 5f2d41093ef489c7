"""Regenerate plans/r07/<query>_after.txt from the CURRENT tree.

The *_before.txt files are the round-start (d74ba6f) snapshots and are
never touched; this script refreshes every after-plan so the committed
evidence matches the final code.  Run from the repo root.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.01"


def fmt(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def main() -> None:
    from pyspark.sql import SparkSession, functions as F
    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "16")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.ui.enabled", "false").getOrCreate())
    import __spark_entry__ as entry
    qs = entry.queries()

    plain = ["kg_mentions", "kg_entity_stats", "kg_graph_triples",
             "kg_adjacency", "kg_turn_order", "kg_mentions_bigdict",
             "follow_hops", "minhash_lsh", "ngram_jaccard", "simhash_dups",
             "dup_components_all", "dedup_corpus", "emb_dedup",
             "decontam_all"]
    for name in plain:
        path = f"plans/r07/{name}_after.txt"
        txt = fmt(qs[name](spark, SF))
        with open(path, "w") as f:
            f.write(f"# {name} — after (round-7), sf0.01, "
                    f".explain('formatted')\n" + txt)
        print("wrote", path)

    # minhash assembly plan: the library checkpoints the candidates
    # before verifying, so compose discovery with the same verify kernel
    # to keep the whole signature→banding→discovery→verify DAG in view
    from versa_spark import dedup
    docs = (spark.read.parquet(f"{SF}/documents.parquet")
            .orderBy("doc_id").limit(200))
    planted = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" appended")).alias("text"))
    both = docs.select("doc_id", "text").unionByName(planted)
    lazy = dedup.ngram_jaccard_pairs(
        both, threshold=0.8, candidates=dedup.minhash_lsh_candidates(
            both, verify_threshold=None, hash_family="md5"))
    with open("plans/r07/minhash_lsh_lazy_after.txt", "w") as f:
        f.write("# minhash_lsh assembly plan (discovery composed with "
                "ngram_jaccard_pairs(candidates=...) so the full "
                "signature->banding->discovery->verify DAG is "
                "visible) — after\n" + fmt(lazy))
    print("wrote plans/r07/minhash_lsh_lazy_after.txt")

    # the synthetic e2e build plan: the persisted slim frame's plan shows
    # under its InMemoryRelation
    from versa_spark.kg.graph import build_graph
    from versa_spark.kg.transcripts import (ordered_turns,
                                            synthetic_transcripts)
    turns = ordered_turns(synthetic_transcripts(spark, n_convs=1000,
                                                turns_per_conv=25))
    parts = build_graph(spark, turns)
    with open("plans/r07/kg_synthetic_e2e_after.txt", "w") as f:
        f.write("# kg_synthetic_e2e graph (the persisted slim frame's "
                "build plan shows under its InMemoryRelation) — after\n"
                + fmt(parts["graph"]))
    parts["turns"].unpersist()
    print("wrote plans/r07/kg_synthetic_e2e_after.txt")
    spark.stop()


if __name__ == "__main__":
    main()
