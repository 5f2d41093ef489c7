"""Phase-level timing of the bench minhash_lsh query (guide §1.4).

Times each sub-DAG of `_q_minhash_lsh` in isolation (count-materialized,
same session, warm JVM) so the 3.2 s lap cost decomposes into: source
prep, signatures, banding, candidate discovery, verify, checkpoint.
Run AFTER the suite is idle — host contention invalidates the numbers.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.hostsize import CPUS, HEAP_GB  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    from pyspark.sql import SparkSession, functions as F
    spark = (SparkSession.builder.master(f"local[{CPUS}]")
             .appName("profile-minhash")
             .config("spark.sql.shuffle.partitions", str(CPUS * 2))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.driver.memory", f"{HEAP_GB}g")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    from versa_spark import dedup

    def source():
        docs = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
                .orderBy("doc_id").limit(200))
        planted = docs.select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" appended")).alias("text"))
        return docs.select("doc_id", "text").unionByName(planted)

    def t(label, thunk, n=3):
        walls = []
        for _ in range(n):
            spark.catalog.clearCache()
            t0 = time.time()
            thunk()
            walls.append(round(time.time() - t0, 3))
        print(f"{label:32s} {sorted(walls)[len(walls)//2]:7.3f}  laps={walls}",
              flush=True)

    # warmup
    for _ in range(2):
        dedup.minhash_lsh_candidates(source(), verify_threshold=0.8,
                                     hash_family="md5").count()

    t("full query", lambda: dedup.minhash_lsh_candidates(
        source(), verify_threshold=0.8, hash_family="md5").count())
    t("source only", lambda: source().count())
    t("signatures", lambda: dedup.minhash_signatures(
        source(), hash_family="md5").count())
    t("banded", lambda: dedup._banded_signatures(
        source(), "doc_id", "text", 3, 64, 16, "md5").count())
    t("cands (no verify)", lambda: dedup.minhash_lsh_candidates(
        source(), verify_threshold=None, hash_family="md5").count())

    def _verify_only():
        cands = dedup.minhash_lsh_candidates(
            source(), verify_threshold=None, hash_family="md5") \
            .localCheckpoint(eager=True)
        t0 = time.time()
        dedup.ngram_jaccard_pairs(source(), threshold=0.8,
                                  candidates=cands).count()
        print(f"{'  verify (cands pre-mat)':32s} {time.time()-t0:7.3f}",
              flush=True)
    spark.catalog.clearCache()
    _verify_only()

    # xxhash64 family for comparison (bench uses md5)
    t("full query (xxhash64)", lambda: dedup.minhash_lsh_candidates(
        source(), verify_threshold=0.8, hash_family="xxhash64").count())
    spark.stop()


if __name__ == "__main__":
    main()
