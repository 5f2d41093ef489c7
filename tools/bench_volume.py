"""Disclosed volume laps beyond bench.py's per-round headline set.

Two one-shot laps whose numbers land in BASELINE.md (round-5 judge items):

* ``dedup``  — near-dup discovery + full dedup_corpus at ≥1M synthetic
  docs: evidences the banding exchange, candidate-scoped verify, and
  logarithmic connected components at volume (the oracles run at ≤500
  docs; this is the same code path at 2500×).
* ``bigdict`` — turn_mentions_bigdict at 4M synthetic turns against a
  ~100k-surface generated gazetteer: evidences that token-n-gram
  detection + the broadcast dictionary join scale past the fused-regex
  lexicon path.
* ``cooccur`` — co-occurrence/PMI at 4M turns, BOTH derivations on the
  same input: the zero-exchange sets path (turn_entity_iri_sets →
  cooccurrence_pmi_from_sets — the driver/CLI default since round 5)
  vs the mention-row collect_set path, with an output-equality check.

* ``decontam`` — benchmark decontamination at ≥1M corpus docs vs a
  10k-item held-out set whose items are lightly-edited corpus docs:
  the fuzzy cross-corpus LSH path (broadcast benchmark banding,
  candidate-scoped verify) and the exact 13-gram recipe on the same
  input, with the expected-contamination count checked.

* ``index`` — the incremental path at volume: build the persistent LSH
  index of a 1M-doc corpus once, then dedup a 100k-doc batch (half of
  it near-dups of indexed docs) against it — the per-batch cost a
  continuously-ingesting pipeline pays, vs re-running two-sided fuzzy
  matching on the same input.

* ``annix`` — the persisted IVF index at volume: 1M deterministic
  dim-64 vectors indexed once (256 cells), then a 1k-query top-k batch
  against the stored index (probe-cell partition pruning) vs the
  in-memory ivf_topk path that re-assigns the corpus per call.

* ``chunkpack`` — the chunk→pack assembly path at 1M docs: token-window
  chunking (zero-shuffle expressions) then next-fit sequence packing
  (sharded applyInPandas), with capacity and fill-rate checks.

* ``substrdedup`` — exact-substring removal (round 6) at 1M docs with
  a planted 12-word footer on every 5th doc: discovery + interval
  rewrite, with the exact expected touched-doc and removed-token
  counts checked.

* ``kgfanin`` — KGJob reads as appends accumulate: a 500-conversation
  base, then 24 appends of 50 conversations each (on_existing='error',
  so each append also scans every earlier epoch for overlap).  After
  each append it prints the append wall and the wall of a read pair
  (entity_stats count + mention-filtered graph count), and it reports
  append(23 prior)/append(0 prior) and the same read-pair ratio.  The
  combined graph must equal a full rebuild (exceptAll both ways).

* ``bigdictskew`` — the bigdict shuffle join (2.1M-surface dictionary,
  above the broadcast cap) with ONE hot surface in every turn, left to
  AQE's skew-join split: two default calls, both walls disclosed.

Usage: python tools/bench_volume.py
       [dedup|bigdict|cooccur|decontam|index|annix|chunkpack|
        substrdedup|bigdictskew|kgappend|kgfanin|kgenrich|kgstream|all]
Deterministic synthetic inputs (xxhash64-seeded column expressions, no
Python in the row path, no external data).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession, functions as F  # noqa: E402

CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
N_DOCS = int(os.environ.get("SPARK_GRAFT_VOLUME_DOCS", "1000000"))
N_TURNS = int(os.environ.get("SPARK_GRAFT_VOLUME_TURNS", "4000000"))


def build_spark() -> SparkSession:
    return (SparkSession.builder
            .master(f"local[{CPUS}]")
            .appName("versa_spark-bench-volume")
            .config("spark.sql.shuffle.partitions", str(int(CPUS) * 2))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.driver.memory", "48g")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.ui.enabled", "false")
            .getOrCreate())


def synthetic_docs(spark: SparkSession, n_docs: int,
                   words_per_doc: int = 40) -> DataFrame:
    """Deterministic corpus with a 10% near-dup rate: doc ids with
    id%10==9 repeat the text of id-9 plus one appended word (word-3-gram
    Jaccard ≈ 0.93 — above the 0.8 verify threshold), every other doc is
    seeded uniquely.  Words draw from a 10k-surface synthetic vocabulary
    (``w<hash%10000>``), so unrelated docs share almost no shingles."""
    base = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 == 9, F.col("id") - 9)
         .otherwise(F.col("id")).alias("_seed"),
        (F.col("id") % 10 == 9).alias("_clone"))
    words = F.transform(
        F.sequence(F.lit(0), F.lit(words_per_doc - 1)),
        lambda p: F.concat(F.lit("w"),
                           F.pmod(F.xxhash64(F.col("_seed"), p),
                                  F.lit(10_000))))
    text = F.array_join(words, " ")
    text = F.when(F.col("_clone"), F.concat(text, F.lit(" extradupword"))) \
            .otherwise(text)
    return base.select("doc_id", text.alias("text"))


def lap_dedup(spark: SparkSession) -> dict:
    from versa_spark import dedup
    docs = synthetic_docs(spark, N_DOCS)

    t0 = time.time()
    pairs = dedup.minhash_lsh_candidates(docs, verify_threshold=0.8)
    n_pairs = pairs.count()
    discovery_wall = round(time.time() - t0, 3)

    t0 = time.time()
    kept = dedup.dedup_corpus(docs, threshold=0.8)
    n_kept = kept.count()
    corpus_wall = round(time.time() - t0, 3)
    return {
        "n_docs": N_DOCS,
        "discovery_sec": discovery_wall,
        "discovery_docs_per_sec": round(N_DOCS / discovery_wall, 1),
        "verified_pairs": n_pairs,
        "dedup_corpus_sec": corpus_wall,
        "dedup_corpus_docs_per_sec": round(N_DOCS / corpus_wall, 1),
        "docs_kept": n_kept,
        "docs_removed": N_DOCS - n_kept,
    }


def lap_decontam(spark: SparkSession) -> dict:
    """Fuzzy vs exact decontamination at volume.  Benchmark = every
    100th corpus doc (ids %100==7 — never a near-dup clone, those end
    in 9) with one word appended: word-3-gram Jaccard ≈ 38/39 ≈ 0.97,
    so the fuzzy path must flag EXACTLY those N/100 docs; the exact
    13-gram path must flag them too (a 40-word doc shares plenty of
    13-grams with its 41-word edit)."""
    from versa_spark import dedup
    docs = synthetic_docs(spark, N_DOCS)
    bench = (docs.filter(F.col("doc_id") % 100 == 7)
             .select((F.col("doc_id") + 10 * N_DOCS).alias("doc_id"),
                     F.concat(F.col("text"), F.lit(" benchleak"))
                     .alias("text")))
    n_bench = N_DOCS // 100 + (1 if N_DOCS % 100 > 7 else 0)

    t0 = time.time()
    pairs = dedup.decontaminate_fuzzy(docs, bench, mode="pairs")
    n_pairs = pairs.count()
    fuzzy_wall = round(time.time() - t0, 3)

    t0 = time.time()
    n_exact = (N_DOCS
               - dedup.decontaminate(docs, bench, n=13).count())
    exact_wall = round(time.time() - t0, 3)
    return {
        "n_docs": N_DOCS,
        "n_bench": n_bench,
        "fuzzy_sec": fuzzy_wall,
        "fuzzy_docs_per_sec": round(N_DOCS / fuzzy_wall, 1),
        "fuzzy_pairs": n_pairs,
        "fuzzy_pairs_expected": n_bench,
        "exact_sec": exact_wall,
        "exact_docs_per_sec": round(N_DOCS / exact_wall, 1),
        "exact_contaminated": n_exact,
    }


def lap_index(spark: SparkSession) -> dict:
    """Incremental dedup at volume: index 1M docs once (the amortized
    cost), then match a 100k-doc batch — ids 2M+i, where even i clones
    indexed doc i's text plus one word (a guaranteed near-dup) and odd
    i draws fresh seeds — against the stored index.  The same batch
    through two-sided decontaminate_fuzzy (which must re-shingle the
    corpus) is the baseline the index exists to beat."""
    import shutil
    import tempfile
    from versa_spark import dedup
    corpus = synthetic_docs(spark, N_DOCS)
    n_batch = max(1, N_DOCS // 10)
    base = spark.range(n_batch).select(
        (F.col("id") + 2 * N_DOCS).alias("doc_id"),
        F.when(F.col("id") % 2 == 0, F.col("id"))
         .otherwise(F.col("id") + 7 * N_DOCS).alias("_seed"),
        (F.col("id") % 2 == 0).alias("_clone"))
    words = F.transform(
        F.sequence(F.lit(0), F.lit(39)),
        lambda p: F.concat(F.lit("w"),
                           F.pmod(F.xxhash64(F.col("_seed"), p),
                                  F.lit(10_000))))
    text = F.array_join(words, " ")
    text = F.when(F.col("_clone"),
                  F.concat(text, F.lit(" batchdup"))).otherwise(text)
    batch = base.select("doc_id", text.alias("text"))

    path = tempfile.mkdtemp(prefix="lshix_") + "/ix"
    t0 = time.time()
    dedup.write_dedup_index(corpus, path)
    build_wall = round(time.time() - t0, 3)

    t0 = time.time()
    n_pairs = dedup.dedup_against_index(batch, path,
                                        mode="pairs").count()
    batch_wall = round(time.time() - t0, 3)

    t0 = time.time()
    n_ref = dedup.decontaminate_fuzzy(batch, corpus,
                                      mode="pairs").count()
    twosided_wall = round(time.time() - t0, 3)

    # append lifecycle at volume (round-6 item): the batch's non-dup
    # survivors join the index (ids disjoint by construction), then a
    # second batch that near-dups APPENDED docs must find them — the
    # continuous-ingestion loop.  The append cost must be O(batch):
    # shingles/ appends one hashed-shingle array per batch doc and
    # sizes/ appends size() of those arrays from the batch lineage,
    # never re-reading the whole shingles table.
    survivors = dedup.dedup_against_index(batch, path)
    t0 = time.time()
    dedup.write_dedup_index(survivors, path, mode="append")
    append_wall = round(time.time() - t0, 3)
    n_appended = survivors.count()
    batch2 = survivors.limit(1000).select(
        (F.col("doc_id") + 5 * N_DOCS).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" seconddup")).alias("text"))
    t0 = time.time()
    n_pairs2 = dedup.dedup_against_index(batch2, path,
                                         mode="pairs").count()
    match2_wall = round(time.time() - t0, 3)
    shutil.rmtree(path.rsplit("/", 1)[0], ignore_errors=True)
    return {
        "n_indexed": N_DOCS,
        "n_batch": n_batch,
        "index_build_sec": build_wall,
        "batch_match_sec": batch_wall,
        "batch_docs_per_sec": round(n_batch / batch_wall, 1),
        "matched_pairs": n_pairs,
        "twosided_fuzzy_sec": twosided_wall,
        "twosided_docs_per_sec": round(n_batch / twosided_wall, 1),
        "twosided_pairs": n_ref,
        "append_docs": n_appended,
        "append_sec": append_wall,
        "append_docs_per_sec": round(n_appended / append_wall, 1),
        "post_append_match_pairs": n_pairs2,
        "post_append_match_pairs_expected": 1000,
        "post_append_match_sec": match2_wall,
    }


def synthetic_vectors(spark: SparkSession, n: int, dim: int = 64,
                      id_offset: int = 0) -> DataFrame:
    """Deterministic dense vectors: component p of vector i is
    (xxhash64(i, p) mod 2001 - 1000)/1000 — uniform-ish in [-1, 1],
    reproducible, no Python in the row path."""
    return spark.range(n).select(
        (F.col("id") + id_offset).alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda p: (F.pmod(F.xxhash64(F.col("id") + id_offset, p),
                              F.lit(2001)) - 1000) / 1000.0
        ).alias("embedding"))


def lap_annix(spark: SparkSession) -> dict:
    import shutil
    import tempfile
    from versa_spark import simsearch
    n_vec = N_DOCS
    n_cells, nprobe, n_q, k = 256, 8, 1000, 10
    emb = synthetic_vectors(spark, n_vec)
    queries = (synthetic_vectors(spark, n_q)
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_vec")))

    # BOTH paths read the corpus from parquet — a real corpus lives on
    # disk either way; comparing a parquet-reading indexed path against
    # an expression-synthesized in-memory baseline would measure array
    # decode, not indexing
    tmp = tempfile.mkdtemp(prefix="annix_")
    emb.write.parquet(f"{tmp}/corpus")
    corpus = spark.read.parquet(f"{tmp}/corpus")

    path = f"{tmp}/ix"
    t0 = time.time()
    simsearch.write_ann_index(corpus, path, n_cells=n_cells,
                              refine_iters=0)
    build_wall = round(time.time() - t0, 3)

    # the host swings several-x between single trials AND whichever
    # path runs second in a pair benefits from a warm JVM/page cache —
    # an AB,AB loop systematically flatters B.  ABBA order cancels the
    # order effect; min-of-2 per path discards the burst; every wall is
    # reported
    def run_indexed():
        t0 = time.time()
        got = simsearch.ann_query_index(queries, path, k=k,
                                        nprobe=nprobe)
        n = got.count()
        return round(time.time() - t0, 3), got, n

    def run_nonindexed():
        t0 = time.time()
        ref = simsearch.ivf_topk(corpus, queries, k=k, n_cells=n_cells,
                                 nprobe=nprobe, refine_iters=0)
        n = ref.count()
        return round(time.time() - t0, 3), ref, n

    w1, got, n_got = run_indexed()
    w2, ref, n_ref = run_nonindexed()
    w3, ref, n_ref = run_nonindexed()
    w4, got, n_got = run_indexed()
    indexed_walls, nonindexed_walls = [w1, w4], [w2, w3]
    query_wall = min(indexed_walls)
    nonindexed_wall = min(nonindexed_walls)

    # a small serving batch: 1000 uniform queries × nprobe 8 touch all
    # 256 cells (pruning nil — the win above is skipping assignment);
    # 20 queries probe ≤160 cells, so partition pruning also bites
    q_small = queries.limit(20)
    t0 = time.time()
    n_small = simsearch.ann_query_index(q_small, path, k=k,
                                        nprobe=nprobe).count()
    small_wall = round(time.time() - t0, 3)

    # queries 0..999 ARE corpus vectors 0..999: their top-1 must be
    # themselves at cosine 1 in both paths
    self_ok = (got.filter("rank = 1 AND q_id = vec_id").count() == n_q
               and ref.filter("rank = 1 AND q_id = vec_id").count()
               == n_q)
    shutil.rmtree(tmp, ignore_errors=True)
    return {
        "n_vectors": n_vec,
        "dim": 64,
        "n_cells": n_cells,
        "nprobe": nprobe,
        "n_queries": n_q,
        "index_build_sec": build_wall,
        "indexed_query_sec": query_wall,
        "indexed_walls": indexed_walls,
        "queries_per_sec": round(n_q / query_wall, 1),
        "nonindexed_ivf_sec": nonindexed_wall,
        "nonindexed_walls": nonindexed_walls,
        "nonindexed_queries_per_sec": round(n_q / nonindexed_wall, 1),
        "small_batch_queries": 20,
        "small_batch_sec": small_wall,
        "rows": n_got,
        "rows_nonindexed": n_ref,
        "rows_small": n_small,
        "self_top1_both_paths": self_ok,
    }


def lap_chunkpack(spark: SparkSession) -> dict:
    from versa_spark import textops
    docs = synthetic_docs(spark, N_DOCS)
    t0 = time.time()
    chunks = textops.chunk_documents(docs, chunk_tokens=16, overlap=4)
    n_chunks = chunks.count()
    chunk_wall = round(time.time() - t0, 3)

    t0 = time.time()
    packed = textops.pack_sequences(chunks, seq_len=256, n_shards=256)
    stats = (packed.groupBy("shard", "seq_ix")
             .agg(F.sum("n_tokens").alias("t"))
             .agg(F.count("*").alias("n_seqs"),
                  F.max("t").alias("max_t"),
                  F.avg("t").alias("avg_t")).first())
    pack_wall = round(time.time() - t0, 3)
    return {
        "n_docs": N_DOCS,
        "chunk_sec": chunk_wall,
        "chunk_docs_per_sec": round(N_DOCS / chunk_wall, 1),
        "n_chunks": n_chunks,
        "pack_sec": pack_wall,
        "pack_chunks_per_sec": round(n_chunks / pack_wall, 1),
        "n_sequences": stats.n_seqs,
        "max_seq_tokens": stats.max_t,
        "fill_rate": round(stats.avg_t / 256, 4),
        "capacity_ok": stats.max_t <= 256,
    }


def lap_bigdict(spark: SparkSession) -> dict:
    from versa_spark.kg import extract
    from versa_spark.kg.transcripts import synthetic_transcripts
    from versa_spark.kg.transcripts import TURN_IRI_PREFIX
    n_pad = 100_000
    # the generator emits whole conversations — report the ACTUAL row
    # count, not the requested target, or tps overstates on non-multiples
    n_turns = max(1, N_TURNS // 25) * 25
    tx = synthetic_transcripts(spark, n_convs=max(1, N_TURNS // 25),
                               turns_per_conv=25)
    tx = tx.withColumn(
        "turn_iri", F.concat(F.lit(TURN_IRI_PREFIX), F.col("conv_id"),
                             F.lit("/"), F.col("turn_idx")))
    bd = extract.synthetic_big_dictionary(spark, n_pad=n_pad)
    t0 = time.time()
    n_mentions = extract.turn_mentions_bigdict(tx, bd).count()
    wall = round(time.time() - t0, 3)
    # the small-lexicon fused-regex path on the SAME turns, for the
    # documented fast-path/scale-path trade-off
    t0 = time.time()
    n_lex = extract.turn_mentions(tx).count()
    lex_wall = round(time.time() - t0, 3)
    return {
        "n_turns": n_turns,
        "dict_surfaces": n_pad + len(extract.LEXICON)
        + len(extract.BIGDICT_PHRASES),
        "bigdict_sec": wall,
        "turns_per_sec": round(n_turns / wall, 1),
        "mentions": n_mentions,
        "lexicon_regex_sec": lex_wall,
        "lexicon_turns_per_sec": round(n_turns / lex_wall, 1),
        "lexicon_mentions": n_lex,
    }


def lap_substrdedup(spark: SparkSession) -> dict:
    """Exact-substring removal at volume (round-6 operator): a fixed
    12-word footer planted on every 5th doc (hot 5-grams in N/5 docs);
    min_docs=50 keeps the 10%-rate near-dup clone pairs (each gram in
    exactly 2 docs) out of scope, so the expected rewrite is exact:
    every footer doc loses exactly the 12 footer tokens as ONE span,
    every other doc is untouched."""
    from versa_spark import textops
    footer = ("boilerplate footer alpha beta gamma delta epsilon zeta "
              "eta theta iota kappa")
    docs = synthetic_docs(spark, N_DOCS).select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.col("text"), F.lit(" " + footer)))
        .otherwise(F.col("text")).alias("text"))
    n_footer = (N_DOCS + 4) // 5
    t0 = time.time()
    out = textops.remove_repeated_spans(docs, n=5, min_docs=50)
    agg = out.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("n_tokens_removed") > 0, 1)
              .otherwise(0)).alias("touched"),
        F.sum("n_tokens_removed").alias("toks_removed"),
        F.max("n_spans").alias("max_spans")).first()
    wall = round(time.time() - t0, 3)
    return {
        "n_docs": N_DOCS,
        "trim_sec": wall,
        "docs_per_sec": round(N_DOCS / wall, 1),
        "touched_docs": int(agg["touched"]),
        "touched_expected": n_footer,
        "tokens_removed": int(agg["toks_removed"]),
        "tokens_removed_expected": n_footer * 12,
        "max_spans": int(agg["max_spans"]),
    }


def lap_bigdictskew(spark: SparkSession) -> dict:
    """Shuffle-join skew at volume: a 2.1M-surface dictionary (above the
    2M broadcast cap, so turn_mentions_bigdict plans an AQE shuffle join
    on the normalized surface) plus ONE planted hot surface occurring in
    EVERY turn, so the shuffle sends n_turns candidate rows to a single
    reducer key and AQE's skew-join split has to re-chunk it.  Two
    default calls on identical input; min of the pair discards the
    host-noise burst, and both walls are disclosed."""
    from versa_spark.kg import extract
    from versa_spark.kg.transcripts import synthetic_transcripts
    n_turns = max(1, N_TURNS // 4 // 25) * 25
    tx = synthetic_transcripts(spark, n_convs=max(1, n_turns // 25),
                               turns_per_conv=25)
    tx = tx.withColumn(
        "text", F.concat_ws(" ", F.col("text"), F.lit("hotsurfterm")))
    bd = extract.synthetic_big_dictionary(spark, n_pad=2_100_000)
    hot = spark.createDataFrame(
        [("hotsurfterm", "hotsurfterm",
          "http://example.org/entity/hotsurfterm")],
        "surface string, canonical string, entity_iri string")
    bd = bd.unionByName(hot)

    walls, counts = [], set()
    for _ in range(2):
        t0 = time.time()
        counts.add(extract.turn_mentions_bigdict(tx, bd).count())
        walls.append(round(time.time() - t0, 3))
    assert len(counts) == 1, f"row counts diverge: {counts}"
    return {
        "n_turns": n_turns,
        "dict_surfaces": 2_100_000 + 1 + len(extract.LEXICON)
        + len(extract.BIGDICT_PHRASES),
        "hot_rows_per_key": n_turns,
        "mentions": counts.pop(),
        "aqe_walls_sec": walls,
        "aqe_sec": min(walls),
        "aqe_turns_per_sec": round(n_turns / min(walls), 1),
    }


def lap_kgappend(spark: SparkSession) -> dict:
    """Incremental KG growth: a 4M-turn base graph, then a 400k-turn
    (10%) batch appended via KGJob.append_batch vs a full 4.4M-turn
    rebuild.  The append is timed FIRST, the rebuild second, so any
    warm-JVM advantage biases AGAINST the append claim.  Exactness is
    asserted (combined graph row count == rebuild row count)."""
    import shutil
    import tempfile

    from versa_spark.kg.job import KGJob
    from versa_spark.kg.transcripts import synthetic_transcripts

    n_base_convs = int(os.environ.get("VOL_KG_BASE_CONVS", 160_000))
    n_all_convs = int(n_base_convs * 1.1)
    tpc = int(os.environ.get("VOL_KG_TPC", 25))
    # ONE generator at the full size, split by conv suffix: the
    # generator assigns turns by id % n_convs, so generating base and
    # full at different n_convs would give the same conv_id different
    # text and void the base∪batch == full identity the lap asserts.
    # Inputs are MATERIALIZED to parquet before any timing — a stage
    # pulling its input through the 4.4M-row generator + filter would
    # charge the append O(corpus) generation cost per stage, which a
    # real delivered 400k-row batch table never pays.
    all_gen = synthetic_transcripts(spark, n_convs=n_all_convs,
                                    turns_per_conv=tpc)
    conv_no = F.substring_index("conv_id", "-", -1).cast("int")
    in_dir = tempfile.mkdtemp(prefix="volkg_in_")
    all_gen.filter(conv_no < n_base_convs).write.parquet(
        os.path.join(in_dir, "base"))
    all_gen.filter(conv_no >= n_base_convs).write.parquet(
        os.path.join(in_dir, "batch"))
    all_gen.write.parquet(os.path.join(in_dir, "all"))
    base_tx = spark.read.parquet(os.path.join(in_dir, "base"))
    batch_tx = spark.read.parquet(os.path.join(in_dir, "batch"))
    all_tx = spark.read.parquet(os.path.join(in_dir, "all"))

    wd_incr = tempfile.mkdtemp(prefix="volkg_incr_")
    wd_full = tempfile.mkdtemp(prefix="volkg_full_")
    try:
        job = KGJob(spark, wd_incr, n_buckets=64)
        t0 = time.time()
        job.run(base_tx, input_fingerprint="base")
        base_s = time.time() - t0

        t0 = time.time()
        # 'trust' mirrors production exactly-once upstream delivery; the
        # 'error' scan costs one extra pass over the slim combined
        # turn_order, measured separately below
        job.append_batch(batch_tx, "b001", input_fingerprint="b1",
                         on_existing="trust")
        append_s = time.time() - t0
        combined_rows = job.table("graph").count()

        t0 = time.time()
        full = KGJob(spark, wd_full, n_buckets=64).run(
            all_tx, input_fingerprint="full")
        full_s = time.time() - t0
        full_rows = full["graph"].count()

        # the overlap scan variant (on_existing='error') on a fresh id —
        # measures the guard's cost at this corpus size (scan of the
        # combined 2-column turn_order)
        n_extra_convs = int(n_base_convs * 1.125)
        synthetic_transcripts(spark, n_convs=n_extra_convs,
                              turns_per_conv=tpc).filter(
            conv_no >= n_all_convs).write.parquet(
            os.path.join(in_dir, "extra"))
        extra = spark.read.parquet(os.path.join(in_dir, "extra"))
        t0 = time.time()
        job.append_batch(extra, "b002", input_fingerprint="b2")
        append_scan_s = time.time() - t0

        n_batch = n_all_convs * tpc - n_base_convs * tpc
        return {"n_base_turns": n_base_convs * tpc,
                "n_batch_turns": n_batch,
                "base_build_sec": round(base_s, 3),
                "append_sec": round(append_s, 3),
                "append_turns_per_sec": round(n_batch / append_s, 1),
                "full_rebuild_sec": round(full_s, 3),
                "rebuild_turns_per_sec": round(
                    n_all_convs * tpc / full_s, 1),
                "speedup_vs_rebuild": round(full_s / append_s, 2),
                "combined_graph_rows": combined_rows,
                "full_graph_rows": full_rows,
                "rows_match": combined_rows == full_rows,
                "append_with_overlap_scan_sec": round(append_scan_s, 3)}
    finally:
        shutil.rmtree(wd_incr, ignore_errors=True)
        shutil.rmtree(wd_full, ignore_errors=True)
        shutil.rmtree(in_dir, ignore_errors=True)


def lap_kgfanin(spark: SparkSession) -> dict:
    """Append and read walls over a growing number of committed appends
    (see the module docstring).  Inputs are materialized before timing,
    as in lap_kgappend; per-step lines go to stderr."""
    import shutil
    import tempfile

    from versa_spark import ops
    from versa_spark.kg.extract import ENT, REL_MENTIONS
    from versa_spark.kg.job import KGJob
    from versa_spark.kg.transcripts import synthetic_transcripts

    n_base, n_batch, n_appends, tpc = 500, 50, 24, 22
    conv_no = F.substring_index("conv_id", "-", -1).cast("int")
    tmp = tempfile.mkdtemp(prefix="volkgf_")
    in_dir, wd, wd_full = (os.path.join(tmp, d)
                           for d in ("tx", "job", "full"))

    def tx(b: int) -> DataFrame:
        return spark.read.parquet(os.path.join(in_dir, f"b={b}"))

    try:
        (synthetic_transcripts(spark, n_convs=n_base + n_batch * n_appends,
                               turns_per_conv=tpc)
         .withColumn("b", F.when(conv_no < n_base, -1).otherwise(
             F.floor((conv_no - n_base) / n_batch)))
         .write.partitionBy("b").parquet(in_dir))
        job = KGJob(spark, wd)
        t0 = time.time()
        job.run(tx(-1), input_fingerprint="base")
        base_s = time.time() - t0
        steps = []
        for i in range(n_appends):
            t0 = time.time()
            job.append_batch(tx(i), f"b{i:02d}", input_fingerprint=f"b{i}")
            append_s = time.time() - t0
            t0 = time.time()
            n_stats = job.table("entity_stats").count()
            n_hot = ops.match(job.table("graph"), rel=REL_MENTIONS,
                              target=ENT + "spark").count()
            read_s = time.time() - t0
            steps.append({"prior": i, "append_s": round(append_s, 3),
                          "read_pair_s": round(read_s, 3),
                          "graph_rows": job.metrics[f"graph@b{i:02d}"]
                          ["rows"], "stats_rows": n_stats, "hot": n_hot})
            print(json.dumps(steps[-1]), file=sys.stderr, flush=True)
        cols = ["origin", "rel", "target", "t_iri"]
        combined = job.table("graph").select(*cols)
        full = KGJob(spark, wd_full).run(
            spark.read.parquet(in_dir).drop("b"),
            input_fingerprint="full")["graph"].select(*cols)
        equal = (combined.exceptAll(full).isEmpty()
                 and full.exceptAll(combined).isEmpty())
        first, last = steps[0], steps[-1]
        return {"base_build_sec": round(base_s, 3), "steps": steps,
                "append_ratio": round(last["append_s"]
                                      / first["append_s"], 3),
                "read_pair_ratio": round(last["read_pair_s"]
                                         / first["read_pair_s"], 3),
                "graph_equals_rebuild": equal}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def lap_kgenrich(spark: SparkSession) -> dict:
    """Round-6 enrichment ops at volume.

    * turn_relations over 4M synthetic turns — the claim is 'one more
      columnar scan': connector words fitting the synthetic text
      ('and' joins the two vocabulary mentions, 'with' joins the hot
      entity to the filler vocabulary) so the pass produces real
      relation rows, not an empty fast path.
    * resolve_aliases over 1M mention rows drawing from a 100k-cluster
      engineered vocabulary (base + capitalized + plural = 3 surfaces
      per cluster) — exactness asserted: every cluster resolves to
      exactly its 3 variants under the base canonical."""
    from versa_spark.kg import extract, linking
    from versa_spark.kg.transcripts import synthetic_transcripts

    turns = synthetic_transcripts(spark, n_convs=160_000,
                                  turns_per_conv=25).withColumn(
        "turn_iri", F.concat(F.lit("t/"), "conv_id", F.lit("/"),
                             F.col("turn_idx")))
    t0 = time.time()
    n_rel = extract.turn_relations(turns, verbs=("and", "with")).count()
    rel_s = time.time() - t0
    t0 = time.time()
    n_ment = extract.turn_mentions(turns).count()
    ment_s = time.time() - t0

    n_clusters = 100_000
    # id → (cluster, variant) cycling through all 300k surfaces so every
    # variant is present (a hash draw would miss ~e^-3.3 of them and
    # break the exact cluster-size assertion)
    base = F.concat(F.lit("ent"), F.pmod(F.col("id"), F.lit(n_clusters)))
    variant = F.pmod((F.col("id") / n_clusters).cast("long"), F.lit(3))
    surface = (F.when(variant == 0, base)
               .when(variant == 1, F.upper(base))
               .otherwise(F.concat(base, F.lit("s"))))
    mentions = spark.range(1_000_000).select(surface.alias("surface"))
    t0 = time.time()
    d = linking.resolve_aliases(mentions).persist()
    n_surfaces = d.count()
    alias_s = time.time() - t0
    n_canon = d.select("canonical").distinct().count()
    bad = d.filter(F.col("cluster_size") != 3).count()
    d.unpersist()
    return {"n_turns": 4_000_000,
            "relations_sec": round(rel_s, 3),
            "n_relations": n_rel,
            "turns_per_sec_relations": round(4_000_000 / rel_s, 1),
            "mentions_sec_same_scan": round(ment_s, 3),
            "n_mention_rows": n_ment,
            "alias_mentions": 1_000_000,
            "alias_surfaces": n_surfaces,
            "alias_clusters": n_canon,
            "alias_clusters_expected": n_clusters,
            "alias_wrong_size_clusters": bad,
            "alias_resolve_sec": round(alias_s, 3),
            "alias_mentions_per_sec": round(1_000_000 / alias_s, 1)}


def lap_kgstream(spark: SparkSession) -> dict:
    """Streaming incremental growth: 8 conversation-atomic bundles of
    125k turns each streamed through stream_kg_job (availableNow,
    maxFilesPerTrigger=1 → 8 epochs: bootstrap + 7 appends).  The
    O(batch) claim in streaming form: per-epoch walls must stay FLAT
    as the workdir grows (epoch 8 ingests into a 7× larger graph for
    ~the cost of epoch 2).  Walls come from the streaming progress
    log (batchDuration per epoch), all disclosed."""
    import json as _json
    import shutil
    import tempfile

    from versa_spark import streaming as st
    from versa_spark.kg.job import KGJob
    from versa_spark.kg.transcripts import synthetic_transcripts

    n_convs = int(os.environ.get("VOL_KGS_CONVS", 40_000))
    tpc = int(os.environ.get("VOL_KGS_TPC", 25))
    n_bundles = 8
    tx = synthetic_transcripts(spark, n_convs=n_convs, turns_per_conv=tpc)
    conv_no = F.substring_index("conv_id", "-", -1).cast("int")
    root = tempfile.mkdtemp(prefix="volkgs_")
    in_dir = os.path.join(root, "in")
    os.makedirs(in_dir)
    per = n_convs // n_bundles
    for i in range(n_bundles):
        part_dir = os.path.join(root, f"p{i}")
        (tx.filter((conv_no >= i * per) & (conv_no < (i + 1) * per))
           .coalesce(4).write.parquet(part_dir))
        os.rename(part_dir, os.path.join(in_dir, f"bundle{i}"))
    # one file-source "file" per bundle dir is not how the reader lists;
    # flatten: move each bundle's parts under in_flat with unique names
    flat = os.path.join(root, "in_flat")
    os.makedirs(flat)
    for i in range(n_bundles):
        bd = os.path.join(in_dir, f"bundle{i}")
        parts = [f for f in os.listdir(bd) if f.endswith(".parquet")]
        for j, f_ in enumerate(parts):
            os.rename(os.path.join(bd, f_),
                      os.path.join(flat, f"b{i}_{j}.parquet"))

    wd = os.path.join(root, "wd")
    ck = os.path.join(root, "ck")
    t0 = time.time()
    q = st.stream_kg_job(spark, flat, wd, ck, on_existing="trust",
                         n_buckets=32, max_files_per_trigger=4)
    q.awaitTermination(3600)
    total_s = time.time() - t0
    walls = [round(p["batchDuration"] / 1000.0, 3)
             for p in q.recentProgress if p["numInputRows"] > 0]
    job = KGJob(spark, wd)
    graph_rows = job.table("graph").count()
    n_batches = len(job.batch_ids())
    shutil.rmtree(root, ignore_errors=True)
    return {"n_turns": n_convs * tpc, "n_epochs": len(walls),
            "n_appended_batches": n_batches,
            "epoch_walls_sec": walls,
            "first_append_sec": walls[1] if len(walls) > 1 else None,
            "last_append_sec": walls[-1] if len(walls) > 1 else None,
            "total_sec": round(total_s, 3),
            "turns_per_sec": round(n_convs * tpc / total_s, 1),
            "graph_rows": graph_rows,
            "flat_cost": (round(walls[-1] / walls[1], 2)
                          if len(walls) > 2 else None)}


def lap_cooccur(spark: SparkSession) -> dict:
    from versa_spark.kg import analytics, extract, linking
    from versa_spark.kg.transcripts import ordered_turns, \
        synthetic_transcripts
    n_turns = max(1, N_TURNS // 25) * 25
    tx = synthetic_transcripts(spark, n_convs=max(1, N_TURNS // 25),
                               turns_per_conv=25)
    turns = ordered_turns(tx, with_rank=False)

    t0 = time.time()
    pmi_sets = analytics.cooccurrence_pmi_from_sets(
        extract.turn_entity_iri_sets(turns)
        .select("conv_id", "turn_idx", "ents"))
    n_sets = pmi_sets.count()
    sets_wall = round(time.time() - t0, 3)

    t0 = time.time()
    linked = linking.link_entities(extract.turn_mentions(turns),
                                   linking.canonical_dictionary(spark))
    pmi_rows = analytics.cooccurrence_pmi(
        linked.select("conv_id", "turn_idx", "entity_iri"))
    n_rows = pmi_rows.count()
    rows_wall = round(time.time() - t0, 3)

    equal = (sorted(map(tuple, pmi_sets.collect()))
             == sorted(map(tuple, pmi_rows.collect())))
    return {
        "n_turns": n_turns,
        "sets_path_sec": sets_wall,
        "sets_turns_per_sec": round(n_turns / sets_wall, 1),
        "mention_row_path_sec": rows_wall,
        "mention_row_turns_per_sec": round(n_turns / rows_wall, 1),
        "pairs": n_sets,
        "outputs_equal": equal and n_sets == n_rows,
    }


LAPS = ("dedup", "bigdict", "cooccur", "decontam", "index", "annix",
        "chunkpack", "substrdedup", "bigdictskew", "kgappend",
        "kgfanin", "kgenrich", "kgstream")


def main() -> None:
    which = sys.argv[1] if len(sys.argv) > 1 else "all"
    if which != "all" and which not in LAPS:
        raise SystemExit(f"unknown lap {which!r} "
                         f"(choose from {', '.join(LAPS)}, all)")
    spark = build_spark()
    out: dict = {"cpus": int(CPUS)}
    if which in ("dedup", "all"):
        out["dedup"] = lap_dedup(spark)
    if which in ("bigdict", "all"):
        out["bigdict"] = lap_bigdict(spark)
    if which in ("cooccur", "all"):
        out["cooccur"] = lap_cooccur(spark)
    if which in ("decontam", "all"):
        out["decontam"] = lap_decontam(spark)
    if which in ("index", "all"):
        out["index"] = lap_index(spark)
    if which in ("annix", "all"):
        out["annix"] = lap_annix(spark)
    if which in ("chunkpack", "all"):
        out["chunkpack"] = lap_chunkpack(spark)
    if which in ("substrdedup", "all"):
        out["substrdedup"] = lap_substrdedup(spark)
    if which in ("bigdictskew", "all"):
        out["bigdictskew"] = lap_bigdictskew(spark)
    if which in ("kgappend", "all"):
        out["kgappend"] = lap_kgappend(spark)
    if which in ("kgfanin", "all"):
        out["kgfanin"] = lap_kgfanin(spark)
    if which in ("kgenrich", "all"):
        out["kgenrich"] = lap_kgenrich(spark)
    if which in ("kgstream", "all"):
        out["kgstream"] = lap_kgstream(spark)
    print(json.dumps(out, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
