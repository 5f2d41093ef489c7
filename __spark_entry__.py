"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Every query derives a deterministic Versa link-quad model from the
parquet tables (versa_spark.testdata), applies one operator from
SURVEY.md §2 (versa_spark.ops / pipeline), and projects aliased columns
matching the DuckDB oracle exactly.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, functions as F

BASE = "http://example.org/"
TYPE_REL = "http://bibfra.me/purl/versa/type"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the transcript → knowledge-graph construction pipeline
    (north rule) on sf0.001 — stable turn ordering, JVM regex mention
    extraction, literal-map entity linking, graph triple
    materialization."""
    return _q_kg_graph_triples(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _q_match_rel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """match(None, rel=hasName, None) over the nation+region quad model
    (reference driver/memory.py:85-116)."""
    from versa_spark import ops
    from versa_spark.testdata import nation_links
    links = nation_links(spark, sf_dir)
    return (ops.match(links, rel=BASE + "hasName")
            .select("origin", F.col("target").alias("name")))


def _q_multimatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """multimatch with target-set OR semantics (memory.py:119-150)."""
    from versa_spark import ops
    from versa_spark.testdata import nation_links
    links = nation_links(spark, sf_dir)
    return (ops.multimatch(links, rel={BASE + "hasName"},
                           target={"NATION_0", "NATION_7", "ASIA"})
            .select("origin", F.col("target").alias("name")))


def _q_all_origins_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """all_origins(only_types={segment/BUILDING}) (util.py:56-75)."""
    from versa_spark import ops
    from versa_spark.testdata import customer_links
    links = customer_links(spark, sf_dir)
    return ops.all_origins(
        links, only_types={BASE + "segment/BUILDING"}).select("origin")


def _q_follow_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """follow(inNation, inRegion, hasName): customer → region name
    (other_actions.py:295-329) as chained equi-joins."""
    from versa_spark import ops
    from versa_spark.testdata import (customer_links, nation_links,
                                      with_quad_defaults)
    links = with_quad_defaults(customer_links(spark, sf_dir).unionByName(
        nation_links(spark, sf_dir)))
    start = links.select(F.col("origin").alias("node")).distinct().filter(
        F.col("node").startswith(BASE + "customer/"))
    # broadcast_hops: each hop table is one rel's links over the small
    # nation/region model — known-broadcastable, so the hint skips the
    # exchange AQE would otherwise materialize before deciding (r07)
    hops = ops.follow_hops(links, start,
                           [BASE + "inNation", BASE + "inRegion",
                            BASE + "hasName"], broadcast_hops=True)
    return hops.select(F.col("node").alias("customer"),
                       F.col("target").alias("region_name"))


def _q_static_index_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """static_index(m, inNation) rollup sizes by origin (util.py:107-141),
    projected to counts so the oracle is order-insensitive."""
    from versa_spark import ops
    from versa_spark.testdata import customer_links, with_quad_defaults
    links = with_quad_defaults(customer_links(spark, sf_dir))
    idx = ops.static_index(links, BASE + "inNation")
    return idx.select("origin", F.size("vals").alias("n_vals"))


def _q_resourcetypes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """resourcetypes(m, rid=None) — full (origin, typ) relation
    (util.py:91-96)."""
    from versa_spark import ops
    from versa_spark.testdata import customer_links
    return ops.resourcetypes(customer_links(spark, sf_dir))


# ---------------------------------------------------------------------------
# KG-construction queries (the north-rule pipeline; transcripts derive from
# the documents table so DuckDB can reproduce the derivation in SQL)
# ---------------------------------------------------------------------------

def _q_kg_turn_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable turn ordering: window rank over (conv_id, turn_idx) on the
    shuffled transcript table (north-rule per-turn invariant)."""
    from versa_spark.kg.transcripts import (ordered_turns,
                                            transcripts_from_documents)
    turns = ordered_turns(transcripts_from_documents(spark, sf_dir))
    return turns.select("conv_id", "turn_idx", "turn_rank", "role")


def _q_kg_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized mention detection + entity linking through the
    lexicon's literal map (kg.extract.lexicon_linked_mentions: no join,
    no Python node)."""
    from versa_spark.kg import extract
    from versa_spark.kg.transcripts import (ordered_turns,
                                            transcripts_from_documents)
    turns = ordered_turns(transcripts_from_documents(spark, sf_dir))
    linked = extract.lexicon_linked_mentions(turns)
    return linked.select("conv_id", "turn_idx", "surface", "entity_iri")


def _q_kg_mentions_bigdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-dictionary mention detection (extract.turn_mentions_bigdict):
    token 1..2-grams built inside per-row array expressions
    (array_distinct BEFORE the explode — no post-join dedup shuffle),
    then ONE broadcast hash join against a generated 20k-surface
    gazetteer, fusing detection + linking map-side.  The scale path for
    10^5+-surface dictionaries, where the fused-regex small-lexicon path
    (kg_mentions) stops compiling usefully."""
    from versa_spark.kg import extract
    from versa_spark.kg.transcripts import transcripts_from_documents
    tx = transcripts_from_documents(spark, sf_dir)
    m = extract.turn_mentions_bigdict(
        tx, extract.synthetic_big_dictionary(spark), max_ngram=2)
    return m.select("conv_id", "turn_idx", "surface", "entity_iri")


def _q_kg_entity_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted-key canonicalization rollup (kg.canonicalize)."""
    from versa_spark.kg import canonicalize, extract
    from versa_spark.kg.transcripts import (ordered_turns,
                                            transcripts_from_documents)
    turns = ordered_turns(transcripts_from_documents(spark, sf_dir))
    # the same literal-map linking as _q_kg_mentions: the salted rollup
    # aggregates a pure-JVM plan with no join
    linked = extract.lexicon_linked_mentions(turns)
    stats = canonicalize.entity_mention_counts(linked)
    return stats.select("entity_iri", "canonical",
                        F.col("n_mentions").cast("long").alias("n_mentions"),
                        F.col("n_convs").cast("long").alias("n_convs"))


def _q_kg_graph_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full KG triple table (structural + mention + entity links)."""
    from versa_spark.kg.graph import build_graph
    from versa_spark.kg.transcripts import (ordered_turns,
                                            transcripts_from_documents)
    turns = ordered_turns(transcripts_from_documents(spark, sf_dir))
    graph = build_graph(spark, turns)["graph"]
    # Round 7: the trailing .distinct() is gone — a distinct over rows
    # that are already unique (guide §2.4), and it was the query's
    # dominant shuffle.  Uniqueness is by construction on this input:
    # (conv_id, turn_idx) is unique (doc_id → (doc_id % C, doc_id // C)
    # is bijective), so every per-turn structural link is unique; the
    # mention family dedups per turn in-plan (array_distinct over
    # canonical indices); the conversation-type and entity families are
    # built from distincts; and the families are origin/rel-disjoint.
    # Result set identical (oracle hash re-verified at sf0.001/0.01).
    return graph.select("origin", "rel", "target")


def _q_kg_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental KG growth (kg.job.KGJob.append_batch): a base run over
    ~3/4 of the conversations, then an O(batch) append of the rest into
    the next epoch, <workdir>/<stage>/ep=1/ — no base stage re-read or
    rewritten; the combined table() view (one relation over both epochs)
    must equal a full rebuild, so the oracle is EXACTLY kg_graph_triples'
    SQL over the whole corpus.  Every stage is
    conversation-local and entity type/label links are anti-joined
    against the already-committed entity set, which is what makes the
    O(batch) delta exact."""
    import tempfile

    from versa_spark.kg.job import KGJob
    from versa_spark.kg.transcripts import transcripts_from_documents
    tx = transcripts_from_documents(spark, sf_dir)
    h = F.pmod(F.xxhash64("conv_id"), F.lit(4))
    job = KGJob(spark, tempfile.mkdtemp(prefix="vskg_incr_"))
    job.run(tx.filter(h != 0), input_fingerprint="base")
    job.append_batch(tx.filter(h == 0), "b001", input_fingerprint="b001")
    # Round 7: .distinct() removed (same argument as kg_graph_triples,
    # plus batch disjointness: base/batch split conversations by hash so
    # the conversation-local families never overlap across batches, and
    # the entity type/label delta is anti-joined against the committed
    # entity set — the very mechanism that makes the O(batch) append
    # exact also makes the union duplicate-free).
    return job.table("graph").select("origin", "rel", "target")


def _q_kg_adjacency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacency edge list (IRI→IRI edges only, kg.canonicalize)."""
    from versa_spark.kg.graph import build_graph
    from versa_spark.kg.transcripts import (ordered_turns,
                                            transcripts_from_documents)
    turns = ordered_turns(transcripts_from_documents(spark, sf_dir))
    edges = build_graph(spark, turns)["edges"]
    # Round 7: .distinct() removed — edges filter the already-unique
    # graph rows on t_iri (t_iri is a pure function of the link family,
    # so projecting it away cannot collide rows); see kg_graph_triples.
    return edges.select("src", "rel", "dst")


def _q_pipeline_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fingerprint→transform→labelize pipeline fanned out per record
    via applyInPandas (pipeline.spark_run), projected to a rel histogram
    (resource IDs are mmh3 hashes — counts are the SQL-checkable view;
    exact-ID parity is covered by the golden-ID tests)."""
    from versa_spark.iriref import I

    part = spark.read.parquet(f"{sf_dir}/part.parquet").orderBy(
        "p_partkey").limit(300)
    B = I("http://example.org/vocab/")
    SCH = I("https://schema.org/")
    p_iri = F.concat(F.lit("http://example.org/part/"), F.col("p_partkey"))
    rows = part.select(F.explode(F.array(
        F.struct(p_iri.alias("origin"),
                 F.lit(str(TYPE_REL)).alias("rel"),
                 F.lit(str(B("Book"))).alias("target"),
                 F.lit(True).alias("t_iri")),
        F.struct(p_iri.alias("origin"), F.lit(str(B("title"))).alias("rel"),
                 F.col("p_name").cast("string").alias("target"),
                 F.lit(False).alias("t_iri")),
        F.struct(p_iri.alias("origin"),
                 F.lit(str(B("identifier"))).alias("rel"),
                 F.col("p_partkey").cast("string").alias("target"),
                 F.lit(False).alias("t_iri")),
    )).alias("l")).select(
        F.col("l.origin").alias("group_key"), "l.origin", "l.rel",
        "l.target", "l.t_iri",
        F.array().cast("array<struct<k:string,v:string>>").alias("attrs"),
        F.lit(None).cast("long").alias("link_ix"))
    # the projected rows already carry the GROUPED_LINK_SCHEMA columns —
    # feed them to the grouped fan-out directly (no driver round trip;
    # round-2 verdict note #5)
    links = rows

    def make_pipeline():
        from versa_spark.pipeline import (follow, generic_pipeline, link,
                                          materialize)
        return generic_pipeline(
            {B("Book"): materialize(
                SCH("Book"),
                fprint=[(SCH("isbn"), follow(B("identifier")))])},
            {B("title"): link(rel=SCH("name"))},
            {SCH("Book"): follow(SCH("name"))})

    from versa_spark.pipeline.spark_run import run_pipeline_grouped
    out = run_pipeline_grouped(links, make_pipeline, keep_group_col=False)
    return (out.groupBy("rel").agg(F.count("*").alias("n"))
            .select("rel", F.col("n").cast("long").alias("n")))


def _q_zoom_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zoom_in(model, focus=customer/1, depth=2): BFS subgraph extraction
    (reference util.py:226-253) — bounded iterative self-join."""
    from versa_spark import ops
    from versa_spark.testdata import (customer_links, nation_links,
                                      with_quad_defaults)
    links = with_quad_defaults(customer_links(spark, sf_dir).unionByName(
        nation_links(spark, sf_dir)))
    sub = ops.zoom_in(links, BASE + "customer/1", depth=2)
    return sub.select("origin", "rel", "target").distinct()


def _q_replace_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """replace_values: origin rewrite via broadcast mapping + coalesce
    (reference util.py:162-172) — the bulk canonicalization primitive."""
    from versa_spark import ops
    from versa_spark.testdata import nation_links, with_quad_defaults
    links = with_quad_defaults(nation_links(spark, sf_dir))
    mapping = {f"{BASE}nation/{i}": f"{BASE}merged/nation-{i}"
               for i in range(3)}
    return (ops.replace_values(links, mapping)
            .select("origin", "rel", "target"))


def _q_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """labels(m) over a model carrying v:label links (util.py:99-104)."""
    from versa_spark import ops
    from versa_spark.testdata import nation_links
    links = nation_links(spark, sf_dir)
    VLABEL = "http://bibfra.me/purl/versa/label"
    relabeled = links.withColumn(
        "rel", F.when(F.col("rel") == BASE + "hasName",
                      F.lit(VLABEL)).otherwise(F.col("rel")))
    return ops.labels(relabeled)


# ---------------------------------------------------------------------------
# Training-data pipeline ops (dedup / text analysis / similarity search)
# ---------------------------------------------------------------------------

def _q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups by md5 of normalized text (dedup.py).
    The synthetic corpus has no exact dups, so double the table with
    shifted ids — the dedup then must find exactly one group per doc."""
    from versa_spark import dedup
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    both = docs.select("doc_id", "text").unionByName(
        docs.select((F.col("doc_id") + 1000000).alias("doc_id"), "text"))
    groups = dedup.exact_duplicates(both)
    return groups.select("fp_md5", "n_docs",
                         F.col("doc_ids")[0].alias("doc_a"),
                         F.col("doc_ids")[1].alias("doc_b"))


def _q_token_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality scoring (textops.py), all JVM expressions."""
    from versa_spark import textops
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = textops.quality_score(textops.token_counts(docs))
    return out.select("doc_id", "ws_tokens", "bpe_tokens", "n_words",
                      "stopword_ratio", "quality")


def _q_winnow_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (rolling-hash selection, Schleimer
    et al. 2003) with the md5 hash family — full DuckDB value oracle."""
    from versa_spark import textops
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .orderBy("doc_id").limit(100))
    return textops.winnow_fingerprints(docs, k=5, window=4,
                                       hash_family="md5")


def _q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (textops.repetition_stats):
    dup-word fraction, top-bigram fraction, dup-trigram occupancy."""
    from versa_spark import textops
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .orderBy("doc_id").limit(300))
    return textops.repetition_stats(docs)


def _q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram language-ID heuristic (pandas UDF, textops.py)."""
    from versa_spark import textops
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return textops.with_lang_id(docs).select("doc_id", "lang_pred")


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs ≥ 0.8 over a corpus with
    planted near-dups (doc + same doc with one word appended)."""
    from versa_spark import dedup
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .orderBy("doc_id").limit(200))
    planted = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" appended")).alias("text"))
    both = docs.select("doc_id", "text").unionByName(planted)
    return dedup.ngram_jaccard_pairs(both, threshold=0.8).select(
        "a", "b", F.round("jaccard", 4).alias("jaccard"))


def _q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidates, Jaccard-verified (dedup.py), using the md5
    hash family — every step (signature minima, band buckets, scoped
    verify) is reproduced in the DuckDB oracle, so this is a full value
    check.  The xxhash64 fast path is exercised by bench.py and the
    family-equivalence test in tests/test_dataops.py.

    The verify stage is checkpointed (round-4 A/B, quiet host, paired
    laps): unmaterialized, the signature→banding DAG re-executes twice
    per action (the candidate set feeds the verify stage's pair join AND
    its doc-id semi-join), measuring 11.7/12.5 s vs 6.7/7.0 s for the
    persist+checkpoint path at sf0.1; the checkpoint costs ~0.4 s
    (persist-only measured 6.3/6.6 s) and buys leak-free repeated
    calls."""
    from versa_spark import dedup
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .orderBy("doc_id").limit(200))
    planted = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" appended")).alias("text"))
    # r07 A/B note: fanning `both` out to defaultParallelism before the
    # dedup call was measured (ABBA, 6 laps each) at 3.26 s median vs
    # 2.90 s for the single-partition form at sf0.1 — at 400 rows the
    # extra exchange and the 32-task waves it adds to every downstream
    # stage cost more than the parallelism buys, so the sort-limit's
    # natural single partition stays.
    both = docs.select("doc_id", "text").unionByName(planted)
    return dedup.minhash_lsh_candidates(
        both, verify_threshold=0.8, hash_family="md5").select(
        "a", "b", F.round("jaccard", 4).alias("jaccard"))


def _q_simhash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs via the md5 bit family (64-char bit-string
    signatures) — fully reproduced in the DuckDB oracle."""
    from versa_spark import dedup
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .orderBy("doc_id").limit(200))
    planted = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz")).alias("text"))
    both = docs.select("doc_id", "text").unionByName(planted)
    return dedup.simhash_near_dups(both, max_hamming=3, hash_family="md5")


def _q_emb_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs ≥ 0.99 (exact pairwise kernel)."""
    from versa_spark import dedup
    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .orderBy("vec_id").limit(300))
    # plant exact duplicates so the check is non-vacuous
    planted = emb.select((F.col("vec_id") + 1000000).alias("vec_id"),
                         "embedding").limit(50)
    both = emb.select("vec_id", "embedding").unionByName(planted)
    pairs = dedup.embedding_near_dups(both, threshold=0.99)
    return pairs.select("a", "b", F.round("cosine", 2).alias("cos2"))


def _q_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution: near-dup pairs → connected components
    (iterative min-label propagation, dedup.connected_components).  The
    pair graph chains shifted copies plus every-10th neighbor link, so
    components span multiple hops; the oracle is recursive SQL."""
    from versa_spark import dedup
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id").orderBy("doc_id").limit(100))
    pairs = (docs.select(F.col("doc_id").alias("a"),
                         (F.col("doc_id") + 1000000).alias("b"))
             .unionByName(docs.select(
                 (F.col("doc_id") + 1000000).alias("a"),
                 (F.col("doc_id") + 2000000).alias("b")))
             .unionByName(docs.filter(F.col("doc_id") % 10 == 0)
                          .select(F.col("doc_id").alias("a"),
                                  (F.col("doc_id") + 1).alias("b"))))
    return dedup.connected_components(pairs).select("doc_id", "component")


def _q_dup_chain_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components on a 500-hop chain: evidences the O(log n)
    hooking + pointer-doubling convergence — plain neighbor-min
    propagation would need 499 rounds and blow the max_iters=25 budget,
    so passing at all proves the logarithmic path."""
    from pyspark.sql import Window
    from versa_spark import dedup
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id").orderBy("doc_id").limit(500))
    w = Window.orderBy("doc_id")  # 500-row fixture construction
    chain = (docs.select(F.col("doc_id").alias("a"),
                         F.lead("doc_id").over(w).alias("b"))
             .filter(F.col("b").isNotNull()))
    return dedup.connected_components(chain).select("doc_id", "component")


def _q_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED one-call dedup pipeline (dedup.dedup_corpus): LSH
    discovery → candidate-scoped Jaccard verify → connected components →
    representative filter, end-to-end against a DuckDB oracle that
    replays the same banding in SQL and resolves clusters with WITH
    RECURSIVE + anti-join.  Individual stages have their own oracles
    (minhash_lsh, ngram_jaccard, dup_components); this checks their
    composition."""
    from versa_spark import dedup
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .orderBy("doc_id").limit(200))
    planted = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" appended")).alias("text"))
    both = docs.select("doc_id", "text").unionByName(planted)
    kept = dedup.dedup_corpus(both, threshold=0.8, hash_family="md5")
    return kept.select("doc_id", F.md5("text").alias("fp"))


def _q_query_negation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mini query 'and not' (negation node, reference miniast.py:87-92):
    named origins that are NOT in region/0 — NOT IN oracle."""
    from versa_spark import query as vq
    from versa_spark.testdata import nation_links, with_quad_defaults
    links = with_quad_defaults(nation_links(spark, sf_dir))
    res = vq.execute_df(
        links,
        "?($n, B 'hasName', *) and not ?($n, B 'inRegion', B 'region/0')",
        {"B": BASE})
    return res["n"].select(F.col("value").alias("origin"))


def _q_flattened(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schematic attribute flattening (serial/flattener.py): attributed
    hasName links → attr-free links + derived provenance statements."""
    from versa_spark.serial import flattener
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    n_iri = F.concat(F.lit(BASE + "nation/"), F.col("n_nationkey"))
    links = nation.select(
        n_iri.alias("origin"),
        F.lit(BASE + "hasName").alias("rel"),
        F.col("n_name").cast("string").alias("target"),
        F.lit(False).alias("t_iri"),
        F.array(
            F.struct(F.lit(BASE + "source").alias("k"),
                     F.lit("tpch").alias("v")),
            F.struct(F.lit(BASE + "sourceKey").alias("k"),
                     F.col("n_nationkey").cast("string").alias("v")),
        ).alias("attrs"),
        F.lit(None).cast("long").alias("link_ix"))
    out = flattener.flatten(links, [
        (BASE + "hasName", BASE + "source", BASE + "importedFrom", "origin"),
        (BASE + "hasName", BASE + "sourceKey", BASE + "sourceKeyOf",
         "target"),
    ])
    return out.select("origin", "rel", "target")


def _q_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization + per-session rollup over the events
    table (events.py): stacked windows on one exchange, JSON prop
    extraction JVM-side."""
    from versa_spark import events as ev
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = ev.session_stats(e, gap_minutes=30)
    return out.select("user_id", "session_id", "n_events", "span_s",
                      "value_sum", "n_types", "max_k")


def _q_pii_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-pattern counting + redaction (textops.pii_stats/pii_redact):
    emails/URLs/IPv4/phones/card-shapes planted deterministically into
    the corpus from doc_id; the oracle reproduces counts AND the md5 of
    the redacted text (patterns restricted to the Java-regex ∩ RE2
    common subset)."""
    from versa_spark import textops
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .orderBy("doc_id").limit(300))
    four = F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com via http://site"),
            F.col("doc_id").cast("string"), F.lit(".org/page"),
            F.when(F.col("doc_id") % 3 == 0,
                   F.concat(F.lit(" from 10.0."),
                            (F.col("doc_id") % 256).cast("string"),
                            F.lit(".7"))).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 5 == 0,
                   F.concat(F.lit(" call (303) 555-"), four)
                   ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 4 == 1,
                   F.concat(F.lit(" card 4111-1111-1111-"), four)
                   ).otherwise(F.lit(""))
        ).alias("text"))
    out = textops.pii_redact(textops.pii_stats(planted))
    return out.select("doc_id", "n_emails", "n_urls", "n_ipv4",
                      "n_phones", "n_ccards",
                      F.md5("redacted").alias("redacted_md5"))


def _q_emb_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-call embedding near-dup removal (dedup.dedup_embeddings):
    LSH-bucketed discovery → in-bucket cosine verify → connected
    components → representative filter, against a DuckDB oracle that
    embeds the identical deterministic hyperplane literals and resolves
    clusters with WITH RECURSIVE."""
    from versa_spark import dedup
    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .orderBy("vec_id").limit(300))
    # the planted set re-sorts explicitly (TakeOrderedAndProject) so the
    # 50 chosen rows are order-independent — never relying on a limit
    # preserving upstream sort order through a projection
    planted = (emb.orderBy("vec_id").limit(50)
               .select((F.col("vec_id") + 1000000).alias("vec_id"),
                       "embedding"))
    both = emb.select("vec_id", "embedding").unionByName(planted)
    kept = dedup.dedup_embeddings(both, threshold=0.99, dim=64,
                                  n_planes=8, n_tables=2)
    return kept.select("vec_id")


def _q_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (dedup.decontaminate, the GPT-3/PaLM
    13-gram recipe): the benchmark set is drawn from the corpus itself
    (every 7th doc), so those docs are contaminated by construction;
    the oracle replays the shingling + overlap join in SQL."""
    from versa_spark import dedup
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .orderBy("doc_id").limit(300).select("doc_id", "text"))
    bench = docs.filter(F.col("doc_id") % 7 == 0).select("text")
    flagged = dedup.decontaminate(docs, bench, n=13, mode="flag")
    return flagged.select("doc_id", "contaminated")


def _q_decontam_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (near-dup) benchmark decontamination
    (dedup.decontaminate_fuzzy): the benchmark set is every 9th corpus
    doc with one word appended — NOT exact copies, so the 13-gram exact
    recipe's whole-doc hash would miss nothing but a paraphrase detector
    is required; cross-corpus MinHash+LSH (md5 family) finds them and
    the candidate-scoped exact-Jaccard verify scores them.  The oracle
    replays signatures, banding, candidate join, and verification in
    SQL over the unioned doc set (ids disjoint by construction), so
    this is a full value check including the jaccard scores."""
    from versa_spark import dedup
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .orderBy("doc_id").limit(200).select("doc_id", "text"))
    bench = (docs.filter(F.col("doc_id") % 9 == 0)
             .select((F.col("doc_id") + 5000000).alias("doc_id"),
                     F.concat(F.col("text"), F.lit(" tail")).alias("text")))
    pairs = dedup.decontaminate_fuzzy(docs, bench, hash_family="md5",
                                      mode="pairs")
    return pairs.select("corpus_id", "bench_id",
                        F.round("jaccard", 4).alias("jaccard"))


def _q_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget downsampling
    (textops.sample_to_token_budget, md5 family): src0 gets a budget
    above its total (kept whole, frac 1.0), src1/src2 get partial
    budgets, every other source takes the 500-token default — the
    oracle recomputes totals, fractions, and the exact md5-threshold
    kept set in SQL, so the mixture is a full value check."""
    from versa_spark import textops
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "source", "text"))
    out = textops.sample_to_token_budget(
        docs, {"src0": 1_000_000.0, "src1": 700.0, "src2": 300.0},
        default_budget=500.0, seed=7, hash_family="md5")
    return out.select("doc_id", "source",
                      F.round("_frac", 6).alias("frac"))


def _q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-threshold stratified sampling
    (textops.stratified_sample, md5 family): the exact kept set is
    reproduced by the oracle's CASE-threshold filter — unlike
    df.sample, the result is independent of partition layout."""
    from versa_spark import textops
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "source"))
    fractions = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.0}
    out = textops.stratified_sample(docs, fractions,
                                    default_fraction=0.35, seed=7,
                                    hash_family="md5")
    return out.select("doc_id", "source")


def _q_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real multimodal decode (multimodal.py): deterministic binary-PGM /
    WAV-PCM16 payloads are built from doc ids (genuine format bytes),
    then decoded BACK by the numpy-only parsers via mapInPandas; the
    oracle recomputes the expected pixel/sample statistics arithmetically
    from doc_id — a full value check of the encode→decode round trip."""
    from versa_spark import multimodal
    media = multimodal.synthetic_codec_media(spark, sf_dir, limit=200)
    return (multimodal.extract_media_metadata(media)
            .select("media_id", "kind", "width", "height", "n_samples",
                    "duration_ms", "mean_value"))


def _q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for 10 query vectors (simsearch.py).
    Cosines are rounded before ranking in BOTH engines so float ulps
    can't flip ranks."""
    from versa_spark import simsearch
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries_df = (emb.orderBy("vec_id").limit(10)
                  .select(F.col("vec_id").alias("q_id"),
                          F.col("embedding").alias("q_vec")))
    out = simsearch.bruteforce_topk(emb, queries_df, k=5, round_digits=4)
    return out.select("q_id", "vec_id", "rank")


def _hd_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 1024-dim corpus for the high-dim ANN oracles: the
    64-dim embeddings tiled 16× (cast to double first so both engines
    do float64 arithmetic on identical values).  At 1024 dims a plane or
    centroid matrix inlined as plan literals would be thousands of
    nodes; these queries pin that simsearch's matmul projection kernel
    keeps the plan constant-size and matches the oracle at a real
    embedding width."""
    return (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .orderBy("vec_id").limit(300)
            .select("vec_id",
                    F.flatten(F.array_repeat(
                        F.col("embedding").cast("array<double>"), 16))
                    .alias("embedding")))


def _q_ann_topk_hd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH top-5 at dim 1024 (simsearch.lsh_topk): bucket
    signatures run through the matmul projection kernel
    (random_hyperplane_signatures' pandas UDF, 5 planes × 1024 dims),
    and 2^5 buckets leave ~10 candidates per query so the exact-cosine
    re-rank is non-trivial.  sig_round_digits=9 / round_digits=4 make signature
    bits and rank order bit-identical to the DuckDB oracle, which embeds
    the same deterministic hyperplanes(1024, 5, 42) as literals."""
    from versa_spark import simsearch
    emb = _hd_corpus(spark, sf_dir)
    queries_df = (emb.orderBy("vec_id").limit(10)
                  .select(F.col("vec_id").alias("q_id"),
                          F.col("embedding").alias("q_vec")))
    out = simsearch.lsh_topk(emb, queries_df, k=5, n_planes=5, seed=42,
                             dim=1024, sig_round_digits=9, round_digits=4)
    return out.select("q_id", "vec_id", "rank")


def _q_ivf_probe_hd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe ranking at dim 1024 (simsearch.probe_cells): 16 cells ×
    1024 dims through the matmul projection kernel (one stable argsort
    per Arrow batch).  Centroids are the
    first 16 corpus vectors (the ivf_topk refine_iters=0 quantizer), so
    the DuckDB oracle derives them from the same parquet — no literal
    matrix in the SQL; round_digits=6 pins probe order across engines."""
    from versa_spark import simsearch
    emb = _hd_corpus(spark, sf_dir)
    cents = [list(r.embedding) for r in
             emb.orderBy("vec_id").limit(16).collect()]
    q = (emb.orderBy("vec_id").limit(10)
         .select(F.col("vec_id").alias("q_id"),
                 F.col("embedding").alias("q")))
    probed = simsearch.probe_cells(q, cents, nprobe=4, vec_col="q",
                                   round_digits=6)
    return probed.select(
        "q_id", F.posexplode("cells").alias("probe_rank", "cell"))


# ---------------------------------------------------------------------------
# KG analytics (versa_spark/kg/analytics.py): the consumption side of the
# constructed graph — co-occurrence/PMI, centrality, local structure,
# temporal extents, and KG-embedding training negatives.
# ---------------------------------------------------------------------------

def _kg_linked(spark: SparkSession, sf_dir: str):
    """(turns, linked) for the analytics queries — the kg_mentions
    derivation (transcripts from documents → vectorized extraction →
    literal-map linking), shared so every analytics oracle reuses the
    proven mentions CTE."""
    from versa_spark.kg import extract
    from versa_spark.kg.transcripts import (ordered_turns,
                                            transcripts_from_documents)
    turns = ordered_turns(transcripts_from_documents(spark, sf_dir))
    return turns, extract.lexicon_linked_mentions(turns)


def _kg_entity_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-turn distinct entity-IRI arrays via the ZERO-EXCHANGE
    extractor (kg/extract.turn_entity_iri_sets) — the sets-shaped
    producer for cooccurrence_pmi_from_sets.  Output equals
    collect_set over the linked mention rows of ``_kg_linked`` (the
    parity test asserts it); the plan skips that corpus exchange."""
    from versa_spark.kg import extract
    from versa_spark.kg.transcripts import (ordered_turns,
                                            transcripts_from_documents)
    turns = ordered_turns(transcripts_from_documents(spark, sf_dir),
                          with_rank=False)      # rank unused: no exchange
    return (extract.turn_entity_iri_sets(turns)
            .select("conv_id", "turn_idx", "ents"))


def _q_kg_cooccur(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity co-occurrence + PMI: pairs generated INSIDE per-turn
    arrays (no corpus self-join), marginals broadcast, N via broadcast
    1-row cross join.  Round 5: routed through
    analytics.cooccurrence_pmi_from_sets over the zero-exchange
    extractor output — the measured scale path (37.5 s → 5.1 s at 4M
    turns) is now the driver-oracled path, not a parity-tested
    variant."""
    from versa_spark.kg import analytics
    out = analytics.cooccurrence_pmi_from_sets(
        _kg_entity_sets(spark, sf_dir))
    return out.select("a", "b", "n_ab", "n_a", "n_b", "pmi")


def _kg_spars_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparsified co-mention graph: pairs with weight above 1.01× the
    mean pair weight (scale-free threshold — exact integer AVG in both
    engines, so the kept edge set is engine-independent).  Built on the
    from_sets scale path (see _q_kg_cooccur)."""
    from versa_spark.kg import analytics
    pmi = analytics.cooccurrence_pmi_from_sets(
        _kg_entity_sets(spark, sf_dir))
    avg = pmi.agg(F.avg("n_ab").alias("_avg"))
    return (pmi.crossJoin(F.broadcast(avg))
            .filter(F.col("n_ab") > F.lit(1.01) * F.col("_avg"))
            .select("a", "b"))


def _q_kg_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank (analytics.pagerank, 3 power-method
    rounds, damping 0.85, per-round lazy localCheckpoint) over the
    symmetrized sparsified co-mention graph.  The oracle unrolls the
    identical recurrence as three chained CTEs."""
    from versa_spark.kg import analytics
    spars = _kg_spars_edges(spark, sf_dir)
    edges = (spars.select(F.col("a").alias("src"), F.col("b").alias("dst"))
             .unionByName(spars.select(F.col("b").alias("src"),
                                       F.col("a").alias("dst"))))
    return analytics.pagerank(edges, iterations=3).select("node", "rank")


def _q_kg_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle/wedge/clustering stats (analytics.triangle_stats)
    via degree orientation — O(m^1.5) wedge bound regardless of skew;
    the oracle counts the same triangles the naive a<b<c way."""
    from versa_spark.kg import analytics
    spars = _kg_spars_edges(spark, sf_dir)
    return analytics.triangle_stats(
        spars.select(F.col("a").alias("src"), F.col("b").alias("dst")))


def _q_kg_entity_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal extent per entity (analytics.entity_timeline): narrow
    co-keyed join of mention rows with turn timestamps; span in exact
    integer epoch seconds."""
    from versa_spark.kg import analytics
    turns, linked = _kg_linked(spark, sf_dir)
    out = analytics.entity_timeline(
        linked.select("conv_id", "turn_idx", "entity_iri"), turns)
    return out.select("entity_iri", "first_seen", "last_seen", "span_s",
                      "n_mentions", "n_convs")


def _q_kg_neg_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corrupted-triple negatives for KG-embedding
    training (analytics.negative_samples, md5-indexed vocabulary pick —
    the stratified_sample hash family): k=2 per positive mention
    triple; map-side only on the corpus side, vocabulary broadcast."""
    from versa_spark.kg import analytics
    _, linked = _kg_linked(spark, sf_dir)
    # linked feeds two consumers (positives + vocabulary) → persist for
    # the call, eagerly checkpoint the sample, release the cache (the
    # multiply-consumed-frame lifecycle)
    linked = linked.select("turn_iri", "entity_iri").persist()
    try:
        pos = (linked.select(F.col("turn_iri").alias("origin"),
                             F.lit(BASE + "v/mentions").alias("rel"),
                             F.col("entity_iri").alias("target"))
               .distinct())
        return analytics.negative_samples(
            pos, linked, k=2, seed=42).localCheckpoint(eager=True)
    finally:
        linked.unpersist()


def _q_event_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join (events.asof_join): each purchase event picks
    up the user's latest preceding click — the single-shuffle
    union+window formulation (Spark has no native as-of join; the
    oracle uses DuckDB's).  Right side deduped per (user, ts) by max
    event_id so the match is engine-independent; timestamps surface as
    epoch micros (tz-proof, the sessionize convention)."""
    from versa_spark.events import asof_join
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    left = (ev.filter(F.col("event_type") == "purchase")
            .select("event_id", "user_id", "ts"))
    right = (ev.filter(F.col("event_type") == "click")
             .groupBy("user_id", "ts")
             .agg(F.max(F.struct("event_id", "value")).alias("s"))
             .select("user_id", "ts", F.col("s.event_id").alias("event_id"),
                     F.col("s.value").alias("value")))
    aj = asof_join(left, right, right_cols=("event_id", "value"))
    return aj.select("event_id", "user_id",
                     F.unix_micros(F.col("ts").cast("timestamp"))
                     .alias("ts_us"),
                     F.col("event_id_r").alias("click_id"),
                     F.col("value_r").alias("click_value"))


def _q_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (textops.tfidf_top_terms):
    ranking on the unrounded score with (score desc, term asc)
    tie-break — identical expression shape to the SQL oracle, so rank
    order is engine-independent."""
    from versa_spark import textops
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text"))
    return textops.tfidf_top_terms(docs, k=3)


def _q_repeated_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level repeated 5-grams (textops.repeated_ngrams) — the
    boilerplate-discovery half of exact-substring dedup; grams build
    in-plan, one two-phase aggregation keyed on gram."""
    from versa_spark import textops
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .orderBy("doc_id").limit(1000).select("doc_id", "text"))
    return textops.repeated_ngrams(docs, n=5, min_docs=2)


def _q_kg_conv_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation transcript rollup
    (analytics.conversation_profiles): role/tool histograms, char
    volume, active span, distinct entities — one conv-keyed groupBy
    plus a narrow left join of the mention rollup."""
    from versa_spark.kg import analytics
    turns, linked = _kg_linked(spark, sf_dir)
    out = analytics.conversation_profiles(
        turns, linked.select("conv_id", "entity_iri"))
    return out.select("conv_id", "n_turns", "n_user_turns",
                      "n_assistant_turns", "n_tool_turns", "total_chars",
                      "span_s", "n_entities")


def _q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL nearest-neighbor image resize (multimodal.resize_images):
    genuine PGM payloads decode → floor-scaled index map → re-encode in
    the worker; the oracle recomputes the resized pixel mean
    arithmetically from the generator formula (no decode in SQL)."""
    from versa_spark import multimodal
    media = multimodal.synthetic_codec_media(spark, sf_dir, limit=200)
    out = multimodal.resize_images(
        media.filter(F.col("kind") == "image"), new_w=2, new_h=2)
    return out.select("media_id", "width", "height", "mean_value")


def _q_media_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decimation (multimodal.resample_audio): WAV PCM-16
    payloads decode → every-2nd-frame decimation → re-encode at half
    rate; the oracle replays the kept indices arithmetically."""
    from versa_spark import multimodal
    media = multimodal.synthetic_codec_media(spark, sf_dir, limit=200)
    out = multimodal.resample_audio(
        media.filter(F.col("kind") == "audio"), factor=2)
    return out.select("media_id", "n_samples", "sample_rate", "mean_abs")


def _q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order funnel (events.funnel): signup → click → purchase,
    each step at/after the previous step's first occurrence — k narrow
    user-keyed joins over monotonically shrinking frontiers."""
    from versa_spark import events as ev
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.funnel(e).select("stage_ix", "stage", "n_users")


def _q_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour rollup (events.windowed_rollup): integer-epoch
    bucket arithmetic (tz-free), one partial/final aggregate pair,
    DECIMAL-exact value sums."""
    from versa_spark import events as ev
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.windowed_rollup(e, bucket_s=3600).select(
        "bucket_us", "event_type", "n_events", "n_users", "value_sum")


def _q_event_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact type-7 percentiles per event type (events.value_percentiles
    — Spark `percentile` vs DuckDB `quantile_cont`, the same linear
    interpolation), rounded 6 dp."""
    from versa_spark import events as ev
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.value_percentiles(e).select("event_type", "p50", "p90",
                                          "p99")


def _q_event_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts (events.retention_cohorts): tz-free
    integer-epoch buckets; first-event cohort per user; one user-keyed
    join; bucket-pair-keyed rollup."""
    from versa_spark import events as ev
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.retention_cohorts(e, bucket_s=86_400 * 7).select(
        "cohort_us", "bucket_offset", "n_users")


def _q_kg_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical topic segmentation (analytics.segment_conversations):
    lag + running sum stacked on one (conv_id, turn_idx) exchange — the
    sessionize plan discipline; boundaries are exact integer-ratio
    Jaccard, replayed identically by the oracle."""
    from versa_spark.kg import analytics
    from versa_spark.kg.transcripts import transcripts_from_documents
    tx = transcripts_from_documents(spark, sf_dir)
    return analytics.segment_conversations(tx, threshold=0.5)


def _q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup, REMOVAL half (textops.remove_repeated_spans,
    Lee et al. 2022): a shared footer is planted on every 4th doc and a
    shared header on every 10th, so hot 5-gram windows span doc
    boundaries, overlap, and merge; the oracle replays discovery,
    interval coverage, and the token-stream rewrite in SQL (md5 of the
    cleaned text = a full value check of the rewrite, incl. untouched
    docs passing through byte-identical)."""
    from versa_spark import textops
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .orderBy("doc_id").limit(300).select("doc_id", "text"))
    planted = docs.select(
        "doc_id",
        F.concat(
            F.when(F.col("doc_id") % 10 == 0,
                   F.lit("shared header boilerplate alpha beta gamma ")
                   ).otherwise(F.lit("")),
            F.col("text"),
            F.when(F.col("doc_id") % 4 == 0,
                   F.lit(" shared footer sentence repeated across many"
                         " documents here")).otherwise(F.lit(""))
        ).alias("text"))
    out = textops.remove_repeated_spans(planted, n=5, min_docs=2)
    return out.select("doc_id", F.md5("text").alias("clean_md5"),
                      "n_tokens_removed", "n_spans")


# ---------------------------------------------------------------------------
# Round-6 registry consolidation: the driver's CORRECTNESS artifact records
# at most 50 rows, so related queries are merged into labeled multi-metric
# unions (one row family per sub-query, common (label, keys, value) schema).
# Every merged query reuses the SAME underlying operator call as the
# standalone round-5 query it replaces — only the projection changed — and
# the oracle is the UNION ALL of the round-5 oracles under the same labels,
# so the value check is exactly as strong as the four separate rows were.
# ---------------------------------------------------------------------------

def _q_event_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All four event-analytics operators (events.funnel /
    windowed_rollup / value_percentiles / retention_cohorts) as one
    labeled multi-metric result so each gets a hard driver-oracle row
    (round-5 verdict item #1: these four never fit the 50-row artifact
    window as standalone queries)."""
    fu = _q_event_funnel(spark, sf_dir).select(
        F.lit("funnel").alias("metric"),
        F.col("stage_ix").cast("string").alias("k1"),
        F.col("stage").alias("k2"),
        F.col("n_users").cast("double").alias("v"))
    win = (_q_event_windows(spark, sf_dir)
           .select(F.col("bucket_us").cast("string").alias("k1"),
                   F.col("event_type").alias("k2"),
                   F.expr("stack(3, 'win_events', cast(n_events as double),"
                          " 'win_users', cast(n_users as double),"
                          " 'win_value', value_sum) as (metric, v)"))
           .select("metric", "k1", "k2", "v"))
    pc = (_q_event_percentiles(spark, sf_dir)
          .select(F.lit("pctl").alias("metric"),
                  F.col("event_type").alias("k1"),
                  F.expr("stack(3, 'p50', p50, 'p90', p90, 'p99', p99)"
                         " as (k2, v)"))
          .select("metric", "k1", "k2", "v"))
    rt = _q_event_retention(spark, sf_dir).select(
        F.lit("retention").alias("metric"),
        F.col("cohort_us").cast("string").alias("k1"),
        F.col("bucket_offset").cast("string").alias("k2"),
        F.col("n_users").cast("double").alias("v"))
    return fu.unionByName(win).unionByName(pc).unionByName(rt)


def _q_media_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image resize + audio resample (multimodal.resize_images /
    resample_audio) folded into one labeled query (registry
    consolidation — both ops identical to the round-5 standalone
    media_resize / media_resample queries)."""
    rz = _q_media_resize(spark, sf_dir).select(
        "media_id", F.lit("resize").alias("op"),
        F.col("width").alias("d1"), F.col("height").alias("d2"),
        F.col("mean_value").alias("stat"))
    rs = _q_media_resample(spark, sf_dir).select(
        "media_id", F.lit("resample").alias("op"),
        F.col("n_samples").alias("d1"), F.col("sample_rate").alias("d2"),
        F.col("mean_abs").alias("stat"))
    return rz.unionByName(rs)


def _q_dup_components_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components on both fixture graphs (multi-hop pair graph
    + the 500-hop chain that proves O(log n) pointer doubling) as one
    labeled union (registry consolidation)."""
    pg = _q_dup_components(spark, sf_dir).select(
        F.lit("pairgraph").alias("graph"), "doc_id", "component")
    ch = _q_dup_chain_components(spark, sf_dir).select(
        F.lit("chain").alias("graph"), "doc_id", "component")
    return pg.unionByName(ch)


def _q_ann_topk_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (dim 64), hyperplane-LSH top-k (dim
    1024, matmul projection kernel), and IVF probe ranking (dim 1024,
    same kernel) as one
    labeled union (registry consolidation; each arm identical to its
    round-5 standalone query)."""
    bf = _q_ann_topk(spark, sf_dir).select(
        F.lit("bf64").alias("mode"), "q_id", "vec_id", "rank")
    hd = _q_ann_topk_hd(spark, sf_dir).select(
        F.lit("lsh_hd").alias("mode"), "q_id", "vec_id", "rank")
    iv = _q_ivf_probe_hd(spark, sf_dir).select(
        F.lit("ivf_probe").alias("mode"), "q_id",
        F.col("cell").cast("long").alias("vec_id"),
        F.col("probe_rank").alias("rank"))
    return bf.unionByName(hd).unionByName(iv)


def _q_decontam_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (13-gram GPT-3/PaLM) + fuzzy (cross-corpus MinHash)
    benchmark decontamination as one labeled union (registry
    consolidation)."""
    ex = _q_decontam(spark, sf_dir).select(
        F.lit("exact").alias("mode"), F.col("doc_id").alias("a"),
        F.lit(-1).cast("long").alias("b"),
        F.col("contaminated").cast("int").cast("double").alias("score"))
    fz = _q_decontam_fuzzy(spark, sf_dir).select(
        F.lit("fuzzy").alias("mode"), F.col("corpus_id").alias("a"),
        F.col("bench_id").alias("b"), F.col("jaccard").alias("score"))
    return ex.unionByName(fz)


def _q_sample_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixing + stratified sampling as one labeled union
    (registry consolidation; strat rows carry frac=-1 — the stratified
    kept-set check is membership, not fraction)."""
    tb = _q_token_budget_sample(spark, sf_dir).select(
        F.lit("budget").alias("mode"), "doc_id", "source", "frac")
    ss = _q_stratified_sample(spark, sf_dir).select(
        F.lit("strat").alias("mode"), "doc_id", "source",
        F.lit(-1.0).alias("frac"))
    return tb.unionByName(ss)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "match_rel": _q_match_rel,
        "multimatch": _q_multimatch,
        "all_origins_typed": _q_all_origins_typed,
        "follow_hops": _q_follow_hops,
        "static_index_count": _q_static_index_count,
        "resourcetypes": _q_resourcetypes,
        "kg_turn_order": _q_kg_turn_order,
        "kg_mentions": _q_kg_mentions,
        "kg_mentions_bigdict": _q_kg_mentions_bigdict,
        "kg_entity_stats": _q_kg_entity_stats,
        "kg_graph_triples": _q_kg_graph_triples,
        "kg_adjacency": _q_kg_adjacency,
        "pipeline_histogram": _q_pipeline_histogram,
        "zoom_in": _q_zoom_in,
        "replace_values": _q_replace_values,
        "labels": _q_labels,
        "exact_dedup": _q_exact_dedup,
        "token_quality": _q_token_quality,
        "langid": _q_langid,
        "winnow_fp": _q_winnow_fp,
        "repetition_stats": _q_repetition_stats,
        "ngram_jaccard": _q_ngram_jaccard,
        "minhash_lsh": _q_minhash_lsh,
        "simhash_dups": _q_simhash_dups,
        "emb_near_dups": _q_emb_near_dups,
        "ann_topk_all": _q_ann_topk_all,
        "media_meta": _q_media_meta,
        "pii_stats": _q_pii_stats,
        "emb_dedup": _q_emb_dedup,
        "decontam_all": _q_decontam_all,
        "sample_mix": _q_sample_mix,
        "dup_components_all": _q_dup_components_all,
        "dedup_corpus": _q_dedup_corpus,
        "query_negation": _q_query_negation,
        "flattened": _q_flattened,
        "event_sessions": _q_event_sessions,
        "kg_cooccur": _q_kg_cooccur,
        "kg_pagerank": _q_kg_pagerank,
        "kg_triangles": _q_kg_triangles,
        "kg_entity_timeline": _q_kg_entity_timeline,
        "kg_neg_samples": _q_kg_neg_samples,
        "event_asof": _q_event_asof,
        "tfidf_terms": _q_tfidf_terms,
        "repeated_ngrams": _q_repeated_ngrams,
        "kg_conv_profile": _q_kg_conv_profile,
        "kg_segments": _q_kg_segments,
        "media_transform": _q_media_transform,
        "event_analytics": _q_event_analytics,
        "substring_dedup": _q_substring_dedup,
        "kg_incremental": _q_kg_incremental,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles (same derivation, straight SQL)
# ---------------------------------------------------------------------------

def _kg_ctes() -> str:
    """Shared CTEs: the transcript derivation (mirror of
    versa_spark.kg.transcripts.transcripts_from_documents) and the
    canonical lexicon (mirror of kg.extract.LEXICON)."""
    from versa_spark.kg.extract import LEXICON
    lex_values = ", ".join(f"('{s}', '{c}')" for s, c in sorted(LEXICON.items()))
    return f"""
    WITH tx AS (
        SELECT 'conv-' || (doc_id % 100) AS conv_id,
               CAST(doc_id // 100 AS INT) AS turn_idx,
               CASE CAST(doc_id % 4 AS INT)
                    WHEN 0 THEN 'user' WHEN 1 THEN 'assistant'
                    WHEN 2 THEN 'system' ELSE 'tool' END AS role,
               text,
               CASE WHEN doc_id % 4 = 3 THEN
                    CASE CAST(doc_id % 3 AS INT)
                         WHEN 0 THEN 'search' WHEN 1 THEN 'calculator'
                         ELSE 'browser' END END AS tool
        FROM documents),
    lex(surface, canonical) AS (VALUES {lex_values}),
    turns AS (
        SELECT tx.*,
               'http://example.org/transcript/' || conv_id AS conv_iri,
               'http://example.org/transcript/' || conv_id || '/' || turn_idx
                   AS turn_iri,
               ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY turn_idx) - 1
                   AS turn_rank
        FROM tx),
    mentions AS (
        SELECT conv_id, turn_idx, turn_iri, surface, canonical,
               'http://example.org/entity/' || canonical AS entity_iri
        FROM turns JOIN lex
          ON (' ' || text || ' ') LIKE ('% ' || surface || ' %'))
    """


def _bigdict_values() -> str:
    """VALUES list regenerating extract.synthetic_big_dictionary's
    non-padding rows (LEXICON + BIGDICT_PHRASES) with their entity IRIs."""
    from versa_spark.kg.extract import BIGDICT_PHRASES, ENT, LEXICON
    rows = [(s, ENT + c) for s, c in sorted(LEXICON.items())]
    rows += [(p, ENT + p.replace(" ", "_")) for p in BIGDICT_PHRASES]
    return ", ".join(f"('{s}', '{e}')" for s, e in rows)


# Shared co-occurrence derivation appended to the kg CTEs: distinct
# (turn, entity) rows, the turn universe N, unordered pairs (a < b) via
# self-join (the oracle may self-join — it has no 10^12-row corpus; the
# Spark side generates pairs inside per-turn arrays instead), entity
# marginals, and the sparsified edge set (weight > 1.01× exact mean).
_KG_PAIRS_CTES = """
    , ent_turns AS (
        SELECT DISTINCT conv_id, turn_idx, entity_iri FROM mentions),
    nturns AS (
        SELECT COUNT(*) AS n FROM
            (SELECT DISTINCT conv_id, turn_idx FROM ent_turns)),
    pairs AS (
        SELECT e1.entity_iri AS a, e2.entity_iri AS b, COUNT(*) AS n_ab
        FROM ent_turns e1
        JOIN ent_turns e2
          ON e1.conv_id = e2.conv_id AND e1.turn_idx = e2.turn_idx
         AND e1.entity_iri < e2.entity_iri
        GROUP BY 1, 2),
    marg AS (SELECT entity_iri AS e, COUNT(*) AS n_e
             FROM ent_turns GROUP BY 1),
    avgw AS (SELECT AVG(n_ab) AS aw FROM pairs),
    spars AS (SELECT a, b FROM pairs
              WHERE n_ab > 1.01 * (SELECT aw FROM avgw))
"""


def _pagerank_sql(iterations: int = 3, damping: float = 0.85) -> str:
    """Unrolled power-method CTE chain over ``spars`` — the EXACT
    recurrence versa_spark.kg.analytics.pagerank runs: double literals
    round-trip through repr() so (1-d) is the same float64 the Python
    side computed; ranks round to 6 dp at the end only."""
    base = repr(1.0 - damping)
    d = repr(damping)
    ctes = ["""
    edges AS (SELECT a AS src, b AS dst FROM spars
              UNION ALL SELECT b, a FROM spars),
    nodes AS (SELECT DISTINCT src AS node FROM edges
              UNION SELECT dst FROM edges),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    odeg AS (SELECT src, COUNT(*) AS outd FROM edges GROUP BY src),
    r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS rank
           FROM nodes)"""]
    prev = "r0"
    for i in range(1, iterations + 1):
        ctes.append(f"""
    r{i} AS (
        SELECT n.node,
               CAST('{base}' AS DOUBLE) / (SELECT n FROM nn)
               + CAST('{d}' AS DOUBLE)
                 * COALESCE(SUM(r.rank / o.outd), 0.0) AS rank
        FROM nodes n
        LEFT JOIN edges e ON e.dst = n.node
        LEFT JOIN {prev} r ON r.node = e.src
        LEFT JOIN odeg o ON o.src = e.src
        GROUP BY n.node)""")
        prev = f"r{i}"
    return ",".join(ctes) + f"""
    SELECT node, round(rank, 6) AS rank FROM {prev}
"""


# Shared MinHash-LSH derivation (md5 Carter-Wegman family, 64 hashes, 16
# bands of 4) over the planted-near-dup corpus, through the verified pair
# set ``ver`` — used by both the minhash_lsh oracle and the composed
# dedup_corpus oracle (which appends recursive connected components).
_MINHASH_CTES = """
    WITH both_docs AS (
        SELECT doc_id, text FROM
          (SELECT * FROM documents ORDER BY doc_id LIMIT 200)
        UNION ALL
        SELECT doc_id + 1000000, text || ' appended' FROM
          (SELECT * FROM documents ORDER BY doc_id LIMIT 200)),
    norm AS (
        SELECT doc_id,
               regexp_split_to_array(
                   regexp_replace(lower(trim(text)), '\\s+', ' ',
                                  'g'), ' ') AS words
        FROM both_docs),
    sh AS (
        SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id,
                   unnest([array_to_string(words[i:i+2], ' ')
                           for i in range(1, len(words) - 1)])
                       AS shingle
            FROM norm WHERE len(words) >= 3
            UNION ALL
            SELECT doc_id, array_to_string(words, ' ')
            FROM norm WHERE len(words) < 3)),
    hv AS (
        SELECT doc_id,
               CAST(concat('0x', substr(md5(shingle), 1, 12))
                    AS BIGINT) AS ha,
               CAST(concat('0x', substr(md5('b:' || shingle), 1, 12))
                    AS BIGINT) AS hb
        FROM sh),
    hs AS (
        SELECT doc_id, i,
               MIN((ha + i * hb) & ((1::BIGINT << 48) - 1)) AS h
        FROM hv CROSS JOIN range(64) t(i)
        GROUP BY doc_id, i),
    bands AS (
        SELECT doc_id, CAST(i // 4 AS INT) AS band,
               md5(string_agg(h::VARCHAR, ',' ORDER BY i)) AS bucket
        FROM hs GROUP BY doc_id, i // 4),
    cands AS (
        SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        FROM bands x JOIN bands y USING (band, bucket)
        WHERE x.doc_id < y.doc_id),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh
              GROUP BY doc_id),
    inter AS (
        SELECT c.a, c.b, COUNT(*) AS n_inter
        FROM cands c
        JOIN sh sa ON sa.doc_id = c.a
        JOIN sh sb ON sb.doc_id = c.b AND sb.shingle = sa.shingle
        GROUP BY c.a, c.b),
    ver AS (
        SELECT a, b,
               round(CAST(n_inter AS DOUBLE)
                     / (sa.n_sh + sb.n_sh - n_inter), 4) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = a
        JOIN sizes sb ON sb.doc_id = b
        WHERE CAST(n_inter AS DOUBLE)
              / (sa.n_sh + sb.n_sh - n_inter) >= 0.8)
"""


def _planes_values() -> str:
    """The dedup_embeddings hyperplanes (dim 64, 8 planes × 2 tables,
    seeds 42/43) as DuckDB VALUES rows — repr() round-trips float64
    exactly, so the SQL literals ARE the Spark-side planes."""
    from versa_spark.simsearch import hyperplanes
    rows = []
    for t in range(2):
        for i, pl in enumerate(hyperplanes(64, 8, 42 + t)):
            lit = "[" + ", ".join(repr(x) for x in pl) + "]"
            rows.append(f"({t}, {i}, {lit}::DOUBLE[])")
    return ",\n                ".join(rows)


def _planes_values_hd() -> str:
    """The ann_topk_hd hyperplanes (dim 1024, 5 planes, seed 42) as
    DuckDB VALUES rows — same repr() float64 round-trip as
    _planes_values; ~5×1024 literals, which the oracle, having no
    plan-size constraint, can inline while the Spark side ships the
    matrix in the matmul kernel's closure."""
    from versa_spark.simsearch import hyperplanes
    rows = []
    for i, pl in enumerate(hyperplanes(1024, 5, 42)):
        lit = "[" + ", ".join(repr(x) for x in pl) + "]"
        rows.append(f"({i}, {lit}::DOUBLE[])")
    return ",\n                ".join(rows)


def oracle_sql() -> dict[str, str]:
    B = BASE
    TYPE = TYPE_REL
    from versa_spark.textops import PII_PATTERNS
    _PII_EMAIL = PII_PATTERNS["n_emails"]
    _PII_URL = PII_PATTERNS["n_urls"]
    _PII_IPV4 = PII_PATTERNS["n_ipv4"]
    _PII_PHONE = PII_PATTERNS["n_phones"]
    _PII_CCARD = PII_PATTERNS["n_ccards"]
    _PLANES_VALUES = _planes_values()
    _PLANES_VALUES_HD = _planes_values_hd()
    LABEL = "http://bibfra.me/purl/versa/label"
    kg = _kg_ctes()
    kg_sql = {
        "kg_turn_order": kg + """
            SELECT conv_id, turn_idx, CAST(turn_rank AS INT) AS turn_rank,
                   role
            FROM turns
        """,
        "kg_mentions": kg + """
            SELECT conv_id, turn_idx, surface, entity_iri FROM mentions
        """,
        # Mirror of extract.turn_mentions_bigdict over the regenerated
        # 20k-surface gazetteer (extract.synthetic_big_dictionary):
        # identical tokenization ([^A-Za-z0-9_]+ split, empties dropped),
        # 1..2-gram candidates deduped per turn, inner join on surface.
        "kg_mentions_bigdict": kg + f"""
            , toks AS (
                SELECT conv_id, turn_idx,
                       list_filter(regexp_split_to_array(
                           text, '[^A-Za-z0-9_]+'), x -> x <> '') AS t
                FROM tx),
            bigdict(surface, entity_iri) AS (
                SELECT * FROM (VALUES {_bigdict_values()}) v
                UNION ALL
                SELECT 'xsurf_' || i,
                       'http://example.org/entity/xsurf_' || i
                FROM range(20000) r(i)),
            cand AS (
                SELECT conv_id, turn_idx,
                       unnest(list_distinct(flatten([
                           t,
                           list_transform(range(1, len(t)),
                                          i -> t[i] || ' ' || t[i + 1])
                       ]))) AS surface
                FROM toks)
            SELECT c.conv_id, c.turn_idx, c.surface, d.entity_iri
            FROM cand c JOIN bigdict d USING (surface)
        """,
        "kg_entity_stats": kg + """
            SELECT entity_iri, canonical,
                   COUNT(*) AS n_mentions,
                   COUNT(DISTINCT conv_id) AS n_convs
            FROM mentions GROUP BY entity_iri, canonical
        """,
        "kg_graph_triples": kg + f"""
            SELECT DISTINCT conv_iri AS origin, '{TYPE}' AS rel,
                   '{B}v/Conversation' AS target FROM turns
            UNION
            SELECT conv_iri, '{B}v/hasTurn', turn_iri FROM turns
            UNION
            SELECT turn_iri, '{TYPE}', '{B}v/Turn' FROM turns
            UNION
            SELECT turn_iri, '{B}v/role', role FROM turns
            UNION
            SELECT turn_iri, '{B}v/turnIndex', CAST(turn_idx AS VARCHAR)
            FROM turns
            UNION
            SELECT turn_iri, '{B}v/usedTool', '{B}tool/' || tool
            FROM turns WHERE tool IS NOT NULL
            UNION
            SELECT turn_iri, '{B}v/mentions', entity_iri FROM mentions
            UNION
            SELECT DISTINCT entity_iri, '{TYPE}', '{B}v/Concept'
            FROM mentions
            UNION
            SELECT DISTINCT entity_iri, '{LABEL}', canonical FROM mentions
        """,
        "kg_adjacency": kg + f"""
            SELECT DISTINCT conv_iri AS src, '{TYPE}' AS rel,
                   '{B}v/Conversation' AS dst FROM turns
            UNION
            SELECT conv_iri, '{B}v/hasTurn', turn_iri FROM turns
            UNION
            SELECT turn_iri, '{TYPE}', '{B}v/Turn' FROM turns
            UNION
            SELECT turn_iri, '{B}v/usedTool', '{B}tool/' || tool
            FROM turns WHERE tool IS NOT NULL
            UNION
            SELECT turn_iri, '{B}v/mentions', entity_iri FROM mentions
            UNION
            SELECT DISTINCT entity_iri, '{TYPE}', '{B}v/Concept'
            FROM mentions
        """,
        "kg_cooccur": kg + _KG_PAIRS_CTES + """
            SELECT a, b, n_ab, ma.n_e AS n_a, mb.n_e AS n_b,
                   round(ln(CAST(n_ab AS DOUBLE) * (SELECT n FROM nturns)
                            / (CAST(ma.n_e AS DOUBLE) * mb.n_e)),
                         4) AS pmi
            FROM pairs
            JOIN marg ma ON ma.e = a
            JOIN marg mb ON mb.e = b
        """,
        "kg_pagerank": kg + _KG_PAIRS_CTES + "," + _pagerank_sql(3, 0.85),
        "kg_triangles": kg + _KG_PAIRS_CTES + """
            , deg AS (SELECT v, COUNT(*) AS d FROM
                          (SELECT a AS v FROM spars
                           UNION ALL SELECT b FROM spars)
                      GROUP BY v),
            wdg AS (SELECT CAST(SUM((d * (d - 1)) // 2) AS BIGINT) AS w
                    FROM deg),
            tri AS (SELECT COUNT(*) AS t FROM spars e1
                    JOIN spars e2 ON e2.a = e1.b
                    JOIN spars e3 ON e3.a = e1.a AND e3.b = e2.b)
            SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
                   (SELECT COUNT(*) FROM spars) AS n_edges,
                   (SELECT w FROM wdg) AS n_wedges,
                   (SELECT t FROM tri) AS n_triangles,
                   CASE WHEN (SELECT w FROM wdg) > 0
                        THEN round(CAST(3.0 AS DOUBLE) * (SELECT t FROM tri)
                                   / (SELECT w FROM wdg), 4)
                   END AS clustering
        """,
        "kg_entity_timeline": kg + """
            , m2 AS (
                SELECT entity_iri, conv_id, turn_idx,
                       TIMESTAMP '2024-01-01 00:00:00'
                       + to_minutes(CAST(turn_idx * 100
                                         + CAST(substr(conv_id, 6) AS INT)
                                         AS BIGINT)) AS ts
                FROM mentions)
            SELECT entity_iri, MIN(ts) AS first_seen, MAX(ts) AS last_seen,
                   CAST(epoch(MAX(ts)) - epoch(MIN(ts)) AS BIGINT) AS span_s,
                   COUNT(*) AS n_mentions,
                   COUNT(DISTINCT conv_id) AS n_convs
            FROM m2 GROUP BY entity_iri
        """,
        "kg_neg_samples": kg + f"""
            , pos AS (SELECT DISTINCT turn_iri AS origin,
                             '{B}v/mentions' AS rel,
                             entity_iri AS target
                      FROM mentions),
            vocab AS (SELECT entity_iri AS ent,
                             CAST(ROW_NUMBER() OVER (ORDER BY entity_iri) - 1
                                  AS INT) AS ix
                      FROM (SELECT DISTINCT entity_iri FROM mentions)),
            nv AS (SELECT COUNT(*) AS n FROM vocab),
            expanded AS (SELECT origin, rel, target, neg_ix
                         FROM pos CROSS JOIN (VALUES (0), (1)) t(neg_ix)),
            hashed AS (SELECT origin, rel, target, neg_ix,
                              CAST(CAST(concat('0x',
                                       substr(md5(origin || ':' || rel || ':'
                                                  || target || ':' || neg_ix
                                                  || ':42'), 1, 12))
                                       AS BIGINT)
                                   % (SELECT n FROM nv) AS INT) AS ix
                       FROM expanded)
            SELECT origin, rel, target, neg_ix, vocab.ent AS neg_target
            FROM hashed JOIN vocab USING (ix)
        """,
        "kg_conv_profile": kg + """
            , prof AS (
                SELECT conv_id, COUNT(*) AS n_turns,
                       CAST(SUM(CASE WHEN role = 'user' THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_user_turns,
                       CAST(SUM(CASE WHEN role = 'assistant' THEN 1
                                     ELSE 0 END) AS BIGINT)
                           AS n_assistant_turns,
                       CAST(SUM(CASE WHEN tool IS NOT NULL THEN 1
                                     ELSE 0 END) AS BIGINT)
                           AS n_tool_turns,
                       CAST(SUM(length(text)) AS BIGINT) AS total_chars,
                       CAST(60 * (MAX(turn_idx * 100
                                      + CAST(substr(conv_id, 6) AS INT))
                                  - MIN(turn_idx * 100
                                        + CAST(substr(conv_id, 6) AS INT)))
                            AS BIGINT) AS span_s
                FROM turns GROUP BY conv_id),
            ment AS (SELECT conv_id,
                            COUNT(DISTINCT entity_iri) AS n_entities
                     FROM mentions GROUP BY conv_id)
            SELECT prof.conv_id, n_turns, n_user_turns, n_assistant_turns,
                   n_tool_turns, total_chars, span_s,
                   COALESCE(n_entities, 0) AS n_entities
            FROM prof LEFT JOIN ment ON ment.conv_id = prof.conv_id
        """,
        "kg_segments": kg + """
            , tk AS (
                SELECT conv_id, turn_idx,
                       list_distinct(list_filter(
                           regexp_split_to_array(lower(text),
                                                 '[^a-z0-9]+'),
                           x -> x <> '')) AS toks
                FROM turns),
            lagged AS (
                SELECT conv_id, turn_idx, toks,
                       lag(toks) OVER (PARTITION BY conv_id
                                       ORDER BY turn_idx) AS prev
                FROM tk),
            j AS (
                SELECT conv_id, turn_idx,
                       CASE WHEN prev IS NULL THEN NULL
                            ELSE len(list_intersect(toks, prev)) END
                           AS inter,
                       CASE WHEN prev IS NULL THEN NULL
                            ELSE len(toks) + len(prev)
                                 - len(list_intersect(toks, prev)) END
                           AS un
                FROM lagged),
            b AS (
                SELECT conv_id, turn_idx,
                       CASE WHEN inter IS NULL OR un = 0
                                 OR CAST(inter AS DOUBLE) / un < 0.5
                            THEN 1 ELSE 0 END AS nb,
                       CASE WHEN un > 0
                            THEN round(CAST(inter AS DOUBLE) / un, 4) END
                           AS prev_jaccard
                FROM j)
            SELECT conv_id, turn_idx,
                   CAST(SUM(nb) OVER (PARTITION BY conv_id
                                      ORDER BY turn_idx
                                      ROWS UNBOUNDED PRECEDING) - 1
                        AS BIGINT) AS segment_id,
                   prev_jaccard
            FROM b
        """,
    }
    from versa_spark.textops import _LANG_PROFILES, BPE_ISH_TOKEN, STOPWORDS
    gram_values = ", ".join(
        f"('{lang}', '{g}', {ix})"
        for ix, (lang, grams) in enumerate(_LANG_PROFILES.items())
        for g in grams)
    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    ops_sql = {
        "pipeline_histogram": """
            WITH p AS (SELECT * FROM part ORDER BY p_partkey LIMIT 300),
            n(x) AS (SELECT COUNT(*) FROM p)
            SELECT 'http://bibfra.me/purl/versa/type' AS rel, x AS n FROM n
            UNION ALL
            SELECT 'https://schema.org/name', x FROM n
            UNION ALL
            SELECT 'http://bibfra.me/purl/versa/label', x FROM n
        """,
        "zoom_in": f"""
            WITH c AS (SELECT * FROM customer WHERE c_custkey = 1),
            n AS (SELECT nation.* FROM nation
                  JOIN c ON n_nationkey = c_nationkey),
            r AS (SELECT region.* FROM region
                  JOIN n ON region.r_regionkey = n.n_regionkey)
            SELECT '{B}customer/' || c_custkey AS origin,
                   '{TYPE}' AS rel,
                   '{B}segment/' || c_mktsegment AS target FROM c
            UNION
            SELECT '{B}customer/' || c_custkey, '{B}hasName', c_name FROM c
            UNION
            SELECT '{B}customer/' || c_custkey, '{B}inNation',
                   '{B}nation/' || c_nationkey FROM c
            UNION
            SELECT '{B}nation/' || n_nationkey, '{TYPE}', '{B}Nation'
            FROM n
            UNION
            SELECT '{B}nation/' || n_nationkey, '{B}hasName', n_name FROM n
            UNION
            SELECT '{B}nation/' || n_nationkey, '{B}inRegion',
                   '{B}region/' || n_regionkey FROM n
            UNION
            SELECT '{B}region/' || r_regionkey, '{TYPE}', '{B}Region'
            FROM r
            UNION
            SELECT '{B}region/' || r_regionkey, '{B}hasName', r_name FROM r
        """,
        "replace_values": f"""
            WITH remap AS (
                SELECT n_nationkey,
                       CASE WHEN n_nationkey < 3
                            THEN '{B}merged/nation-' || n_nationkey
                            ELSE '{B}nation/' || n_nationkey END AS origin,
                       n_name, n_regionkey
                FROM nation)
            SELECT origin, '{TYPE}' AS rel, '{B}Nation' AS target FROM remap
            UNION ALL
            SELECT origin, '{B}hasName', n_name FROM remap
            UNION ALL
            SELECT origin, '{B}inRegion', '{B}region/' || n_regionkey
            FROM remap
            UNION ALL
            SELECT '{B}region/' || r_regionkey, '{TYPE}', '{B}Region'
            FROM region
            UNION ALL
            SELECT '{B}region/' || r_regionkey, '{B}hasName', r_name
            FROM region
        """,
        "labels": f"""
            SELECT '{B}nation/' || n_nationkey AS origin,
                   n_name AS label FROM nation
            UNION ALL
            SELECT '{B}region/' || r_regionkey, r_name FROM region
        """,
        "query_negation": f"""
            SELECT '{B}nation/' || n_nationkey AS origin
            FROM nation WHERE n_regionkey != 0
            UNION
            SELECT '{B}region/' || r_regionkey FROM region
        """,
        "flattened": f"""
            SELECT '{B}nation/' || n_nationkey AS origin,
                   '{B}hasName' AS rel, n_name AS target FROM nation
            UNION ALL
            SELECT '{B}nation/' || n_nationkey, '{B}importedFrom', 'tpch'
            FROM nation
            UNION ALL
            SELECT n_name, '{B}sourceKeyOf', CAST(n_nationkey AS VARCHAR)
            FROM nation
        """,
    }
    dataops_sql = {
        "exact_dedup": """
            WITH both_docs AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 1000000, text FROM documents),
            fp AS (
                SELECT doc_id,
                       md5(regexp_replace(lower(trim(text)), '\\s+', ' ',
                                          'g')) AS fp_md5
                FROM both_docs)
            SELECT fp_md5, COUNT(*) AS n_docs,
                   MIN(doc_id) AS doc_a, MAX(doc_id) AS doc_b
            FROM fp GROUP BY fp_md5 HAVING COUNT(*) > 1
        """,
        "token_quality": f"""
            WITH w AS (
                SELECT doc_id, text,
                       CASE WHEN length(ws_stripped) = 0 THEN []
                            ELSE regexp_split_to_array(ws_stripped,
                                                       '\\s+')
                       END AS words,
                       length(text) AS n_chars,
                       length(regexp_replace(ws_stripped, '\\s+', ' ',
                                             'g')) AS n_chars_norm
                FROM (SELECT *, regexp_replace(text,
                          '^\\s+|\\s+$', '', 'g') AS ws_stripped
                      FROM documents)),
            feat AS (
                SELECT doc_id,
                   CAST(len(words) AS INT) AS ws_tokens,
                   CAST(len(regexp_extract_all(text,
                        '{BPE_ISH_TOKEN}')) AS INT) AS bpe_tokens,
                   CAST(len(words) AS INT) AS n_words,
                   len(list_filter(words,
                       x -> list_contains([{stop_list}], lower(x))))
                       AS n_stop,
                   len(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct,
                   n_chars, n_chars_norm
                FROM w)
            SELECT doc_id, ws_tokens, bpe_tokens, n_words,
                   round(CASE WHEN n_words > 0
                         THEN CAST(n_stop AS DOUBLE) / n_words
                         ELSE 0.0 END, 6) AS stopword_ratio,
                   round(
                     (CASE WHEN n_words BETWEEN 10 AND 100000
                           THEN 0.4 ELSE 0.0 END)
                   + (CASE WHEN n_chars > 0 AND
                           CAST(n_punct AS DOUBLE)/n_chars < 0.2
                           THEN 0.2 ELSE 0.0 END)
                   + (CASE WHEN n_words > 0 AND
                           CAST(n_stop AS DOUBLE)/n_words > 0.01 AND
                           CAST(n_stop AS DOUBLE)/n_words < 0.6
                           THEN 0.2 ELSE 0.0 END)
                   + (CASE WHEN n_words > 0 AND
                           CAST(n_chars_norm - n_words + 1 AS DOUBLE)
                               / n_words > 2
                           AND
                           CAST(n_chars_norm - n_words + 1 AS DOUBLE)
                               / n_words < 12
                           THEN 0.2 ELSE 0.0 END), 2) AS quality
            FROM feat
        """,
        "langid": f"""
            WITH grams(lang, gram, prio) AS (VALUES {gram_values}),
            scored AS (
                SELECT d.doc_id, g.lang, MIN(g.prio) AS prio,
                       SUM(CASE WHEN contains(
                           ' ' || lower(substr(d.text, 1, 1000)) || ' ',
                           g.gram) THEN 1 ELSE 0 END) AS n
                FROM documents d CROSS JOIN grams g
                GROUP BY d.doc_id, g.lang),
            ranked AS (
                SELECT doc_id, lang, n,
                       ROW_NUMBER() OVER (PARTITION BY doc_id
                           ORDER BY n DESC, prio ASC) AS rk
                FROM scored)
            SELECT d.doc_id,
                   COALESCE((SELECT lang FROM ranked r
                             WHERE r.doc_id = d.doc_id AND r.rk = 1
                               AND r.n >= 2), 'und') AS lang_pred
            FROM documents d
        """,
        "ngram_jaccard": """
            WITH both_docs AS (
                SELECT doc_id, text FROM
                  (SELECT * FROM documents ORDER BY doc_id LIMIT 200)
                UNION ALL
                SELECT doc_id + 1000000, text || ' appended' FROM
                  (SELECT * FROM documents ORDER BY doc_id LIMIT 200)),
            norm AS (
                SELECT doc_id,
                       regexp_split_to_array(
                           regexp_replace(lower(trim(text)), '\\s+', ' ',
                                          'g'), ' ') AS words
                FROM both_docs),
            sh AS (
                SELECT DISTINCT doc_id, shingle FROM (
                    SELECT doc_id,
                           unnest([array_to_string(words[i:i+2], ' ')
                                   for i in range(1, len(words) - 1)])
                               AS shingle
                    FROM norm WHERE len(words) >= 3
                    UNION ALL
                    SELECT doc_id, array_to_string(words, ' ')
                    FROM norm WHERE len(words) < 3)),
            sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh
                      GROUP BY doc_id),
            inter AS (
                SELECT x.doc_id AS a, y.doc_id AS b,
                       COUNT(*) AS n_inter
                FROM sh x JOIN sh y USING (shingle)
                WHERE x.doc_id < y.doc_id
                GROUP BY x.doc_id, y.doc_id)
            SELECT a, b,
                   round(CAST(n_inter AS DOUBLE)
                         / (sa.n_sh + sb.n_sh - n_inter), 4) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = a
            JOIN sizes sb ON sb.doc_id = b
            WHERE CAST(n_inter AS DOUBLE)
                  / (sa.n_sh + sb.n_sh - n_inter) >= 0.8
        """,
        "emb_near_dups": """
            WITH base AS (SELECT vec_id, embedding FROM embeddings
                          ORDER BY vec_id LIMIT 300),
            uni AS (
                SELECT vec_id, embedding FROM base
                UNION ALL
                SELECT vec_id + 1000000, embedding FROM
                  (SELECT * FROM base ORDER BY vec_id LIMIT 50)),
            e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                  FROM uni)
            SELECT x.vec_id AS a, y.vec_id AS b,
                   round(list_dot_product(x.v, y.v)
                         / (sqrt(list_dot_product(x.v, x.v))
                            * sqrt(list_dot_product(y.v, y.v))), 2) AS cos2
            FROM e x JOIN e y ON x.vec_id < y.vec_id
            WHERE list_dot_product(x.v, y.v)
                  / (sqrt(list_dot_product(x.v, x.v))
                     * sqrt(list_dot_product(y.v, y.v))) >= 0.99
        """,
        "repetition_stats": """
            WITH d AS (
                SELECT doc_id,
                       regexp_split_to_array(
                           regexp_replace(lower(trim(text)), '\\s+', ' ',
                                          'g'), ' ') AS w
                FROM (SELECT * FROM documents ORDER BY doc_id LIMIT 300)),
            dw AS (
                SELECT doc_id,
                       round(1.0 - CAST(len(list_distinct(w)) AS DOUBLE)
                             / len(w), 6) AS dup_word_frac
                FROM d),
            bi AS (
                SELECT doc_id,
                       unnest([array_to_string(w[i:i+1], ' ')
                               for i in range(1, len(w))]) AS g
                FROM d WHERE len(w) >= 2),
            bic AS (SELECT doc_id, g, COUNT(*) AS c FROM bi
                    GROUP BY doc_id, g),
            bstat AS (
                SELECT doc_id,
                       round(CAST(MAX(c) AS DOUBLE) / SUM(c), 6)
                           AS top_bigram_frac
                FROM bic GROUP BY doc_id),
            tri AS (
                SELECT doc_id,
                       unnest([array_to_string(w[i:i+2], ' ')
                               for i in range(1, len(w) - 1)]) AS g
                FROM d WHERE len(w) >= 3),
            tric AS (SELECT doc_id, g, COUNT(*) AS c FROM tri
                     GROUP BY doc_id, g),
            tstat AS (
                SELECT doc_id,
                       round(CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END)
                                  AS DOUBLE) / SUM(c), 6)
                           AS dup_trigram_frac
                FROM tric GROUP BY doc_id)
            SELECT dw.doc_id, dw.dup_word_frac,
                   COALESCE(bstat.top_bigram_frac, 0.0) AS top_bigram_frac,
                   COALESCE(tstat.dup_trigram_frac, 0.0)
                       AS dup_trigram_frac
            FROM dw
            LEFT JOIN bstat ON bstat.doc_id = dw.doc_id
            LEFT JOIN tstat ON tstat.doc_id = dw.doc_id
        """,
        "tfidf_terms": """
            WITH toks AS (
                SELECT doc_id,
                       unnest(regexp_split_to_array(lower(text),
                                                    '[^a-z0-9]+')) AS term
                FROM documents),
            tok2 AS (SELECT doc_id, term FROM toks WHERE term <> ''),
            tf AS (SELECT doc_id, term, COUNT(*) AS tf
                   FROM tok2 GROUP BY 1, 2),
            dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
            nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
            scored AS (
                SELECT doc_id, term, tf,
                       tf * ln(CAST((SELECT n FROM nd) AS DOUBLE) / df)
                           AS s,
                       CAST(ROW_NUMBER() OVER (
                           PARTITION BY doc_id
                           ORDER BY tf * ln(CAST((SELECT n FROM nd)
                                                 AS DOUBLE) / df) DESC,
                                    term ASC) AS INT) AS rk
                FROM tf JOIN dfreq USING (term))
            SELECT doc_id, term, tf, round(s, 4) AS tfidf, rk
            FROM scored WHERE rk <= 3
        """,
        "repeated_ngrams": """
            WITH d AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(
                           regexp_replace(lower(trim(text)), '\\s+', ' ',
                                          'g'), ' '), x -> x <> '')
                           AS words
                FROM (SELECT * FROM documents ORDER BY doc_id LIMIT 1000)),
            g AS (
                SELECT doc_id,
                       unnest([array_to_string(words[i:i+4], ' ')
                               for i in range(1, len(words) - 3)]) AS gram
                FROM d WHERE len(words) >= 5)
            SELECT gram, COUNT(DISTINCT doc_id) AS n_docs,
                   COUNT(*) AS n_occurrences
            FROM g GROUP BY gram
            HAVING COUNT(DISTINCT doc_id) >= 2
        """,
        "event_funnel": """
            WITH s0 AS (SELECT user_id, MIN(ts) AS t FROM events
                        WHERE event_type = 'signup' GROUP BY user_id),
            s1 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e
                   JOIN s0 ON s0.user_id = e.user_id
                   WHERE e.event_type = 'click' AND e.ts >= s0.t
                   GROUP BY e.user_id),
            s2 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e
                   JOIN s1 ON s1.user_id = e.user_id
                   WHERE e.event_type = 'purchase' AND e.ts >= s1.t
                   GROUP BY e.user_id)
            SELECT 0 AS stage_ix, 'signup' AS stage,
                   COUNT(*) AS n_users FROM s0
            UNION ALL
            SELECT 1, 'click', COUNT(*) FROM s1
            UNION ALL
            SELECT 2, 'purchase', COUNT(*) FROM s2
        """,
        "event_windows": """
            SELECT CAST(epoch_us(ts) - epoch_us(ts) % 3600000000
                        AS BIGINT) AS bucket_us,
                   event_type, COUNT(*) AS n_events,
                   COUNT(DISTINCT user_id) AS n_users,
                   CAST(round(SUM(CAST(value AS DECIMAL(18,6))), 2)
                        AS DOUBLE) AS value_sum
            FROM events GROUP BY 1, 2
        """,
        "event_percentiles": """
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 6) AS p50,
                   round(quantile_cont(value, 0.9), 6) AS p90,
                   round(quantile_cont(value, 0.99), 6) AS p99
            FROM events GROUP BY event_type
        """,
        "event_retention": """
            WITH activity AS (
                SELECT DISTINCT user_id,
                       CAST(epoch_us(ts) - epoch_us(ts) % 604800000000
                            AS BIGINT) AS b
                FROM events),
            first AS (SELECT user_id, MIN(b) AS cohort FROM activity
                      GROUP BY user_id)
            SELECT cohort AS cohort_us,
                   CAST((b - cohort) // 604800000000 AS INT)
                       AS bucket_offset,
                   COUNT(*) AS n_users
            FROM activity JOIN first USING (user_id)
            GROUP BY cohort, bucket_offset
        """,
        "event_asof": """
            WITH l AS (SELECT event_id, user_id, ts FROM events
                       WHERE event_type = 'purchase'),
            r AS (SELECT user_id, ts, max(event_id) AS click_id,
                         arg_max(value, event_id) AS click_value
                  FROM events WHERE event_type = 'click'
                  GROUP BY user_id, ts)
            SELECT l.event_id, l.user_id,
                   CAST(epoch_us(l.ts) AS BIGINT) AS ts_us,
                   r.click_id, r.click_value
            FROM l ASOF LEFT JOIN r
              ON l.user_id = r.user_id AND l.ts >= r.ts
        """,
        "event_sessions": """
            WITH s AS (
                SELECT user_id, ts, value, event_type, props,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                                    > 30 * 60 * 1000000
                            THEN 1 ELSE 0 END AS new_s
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
            sid AS (
                SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id
                          ORDER BY ts ROWS UNBOUNDED PRECEDING) - 1
                          AS BIGINT) AS session_id
                FROM s)
            SELECT user_id, session_id,
                   COUNT(*) AS n_events,
                   CAST((MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // 1000000
                        AS BIGINT) AS span_s,
                   CAST(round(SUM(CAST(value AS DECIMAL(18,6))), 2)
                        AS DOUBLE) AS value_sum,
                   COUNT(DISTINCT event_type) AS n_types,
                   MAX(CAST(json_extract_string(props, '$.k') AS INT))
                       AS max_k
            FROM sid GROUP BY user_id, session_id
        """,
        "winnow_fp": """
            WITH d AS (
                SELECT doc_id,
                       regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')
                           AS norm
                FROM (SELECT * FROM documents ORDER BY doc_id LIMIT 100)),
            dn AS (SELECT doc_id, norm FROM d WHERE length(norm) >= 5),
            g AS (
                SELECT doc_id, length(norm) - 4 AS n_grams,
                       CAST(x.i AS INT) AS pos,
                       substr(norm, CAST(x.i AS INT) + 1, 5) AS gram
                FROM dn, unnest(range(0, length(norm) - 4)) AS x(i)),
            h AS (
                SELECT doc_id, n_grams, pos,
                       CAST(concat('0x', substr(md5(gram), 1, 12))
                            AS BIGINT) AS h
                FROM g),
            w AS (
                SELECT doc_id, pos, n_grams,
                       MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                                    ROWS BETWEEN CURRENT ROW
                                    AND 3 FOLLOWING) AS fp
                FROM h)
            SELECT DISTINCT doc_id, fp FROM w WHERE pos <= n_grams - 4
        """,
        "minhash_lsh": _MINHASH_CTES + """
            SELECT a, b, jaccard FROM ver
        """,
        "dedup_corpus": _MINHASH_CTES + """,
            edges AS (SELECT a AS x, b AS y FROM ver
                      UNION SELECT b, a FROM ver),
            nodes AS (SELECT DISTINCT x AS node FROM edges),
            reach AS (
                WITH RECURSIVE r(node, comp) AS (
                    SELECT node, node FROM nodes
                    UNION
                    SELECT e.y, r.comp FROM r JOIN edges e ON e.x = r.node)
                SELECT * FROM r),
            cc AS (SELECT node, MIN(comp) AS component FROM reach
                   GROUP BY node),
            drop_ids AS (SELECT node AS doc_id FROM cc
                         WHERE node != component)
            SELECT d.doc_id, md5(d.text) AS fp
            FROM both_docs d
            WHERE d.doc_id NOT IN (SELECT doc_id FROM drop_ids)
        """,
        "simhash_dups": """
            WITH both_docs AS (
                SELECT doc_id, text FROM
                  (SELECT * FROM documents ORDER BY doc_id LIMIT 200)
                UNION ALL
                SELECT doc_id + 1000000, text || ' zz' FROM
                  (SELECT * FROM documents ORDER BY doc_id LIMIT 200)),
            tok AS (
                SELECT doc_id,
                       unnest(regexp_split_to_array(
                           regexp_replace(lower(trim(text)), '\\s+', ' ',
                                          'g'), ' ')) AS w
                FROM both_docs),
            th AS (SELECT doc_id, substr(md5(w), 1, 16) AS h16 FROM tok),
            bits AS (
                SELECT doc_id, i,
                       ((strpos('0123456789abcdef',
                                substr(h16, CAST(i // 4 AS INT) + 1, 1)) - 1)
                        >> CAST(i % 4 AS INT)) & 1 AS bit
                FROM th CROSS JOIN range(64) t(i)),
            votes AS (
                SELECT doc_id, i,
                       SUM(CASE WHEN bit = 1 THEN 1 ELSE -1 END) AS v
                FROM bits GROUP BY doc_id, i),
            sig AS (
                SELECT doc_id,
                       string_agg(CASE WHEN v > 0 THEN '1' ELSE '0' END,
                                  '' ORDER BY i) AS s
                FROM votes GROUP BY doc_id),
            bands AS (
                SELECT doc_id, s, b,
                       substr(s, CAST(b * 16 AS INT) + 1, 16) AS bucket
                FROM sig CROSS JOIN range(4) t(b)),
            pairs AS (
                SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
                       x.s AS sa, y.s AS sb
                FROM bands x JOIN bands y
                  ON x.b = y.b AND x.bucket = y.bucket
                     AND x.doc_id < y.doc_id),
            ham AS (
                SELECT a, b,
                       len(list_filter(range(0, 64),
                           i -> substr(sa, CAST(i AS INT) + 1, 1)
                                != substr(sb, CAST(i AS INT) + 1, 1)))
                           AS hamming
                FROM pairs)
            SELECT a, b, CAST(hamming AS INT) AS hamming
            FROM ham WHERE hamming <= 3
        """,
        "dup_chain_components": """
            WITH d AS (SELECT doc_id FROM documents
                       ORDER BY doc_id LIMIT 500),
            chain AS (SELECT doc_id AS a,
                             LEAD(doc_id) OVER (ORDER BY doc_id) AS b
                      FROM d),
            pairs AS (SELECT a, b FROM chain WHERE b IS NOT NULL),
            edges AS (SELECT a AS x, b AS y FROM pairs
                      UNION SELECT b, a FROM pairs),
            nodes AS (SELECT DISTINCT x AS node FROM edges),
            reach AS (
                WITH RECURSIVE r(node, comp) AS (
                    SELECT node, node FROM nodes
                    UNION
                    SELECT e.y, r.comp FROM r JOIN edges e ON e.x = r.node)
                SELECT * FROM r)
            SELECT node AS doc_id, MIN(comp) AS component
            FROM reach GROUP BY node
        """,
        "dup_components": """
            WITH d AS (SELECT doc_id FROM documents
                       ORDER BY doc_id LIMIT 100),
            pairs AS (
                SELECT doc_id AS a, doc_id + 1000000 AS b FROM d
                UNION ALL
                SELECT doc_id + 1000000, doc_id + 2000000 FROM d
                UNION ALL
                SELECT doc_id, doc_id + 1 FROM d WHERE doc_id % 10 = 0),
            edges AS (SELECT a AS x, b AS y FROM pairs
                      UNION SELECT b, a FROM pairs),
            nodes AS (SELECT DISTINCT x AS node FROM edges),
            reach AS (
                WITH RECURSIVE r(node, comp) AS (
                    SELECT node, node FROM nodes
                    UNION
                    SELECT e.y, r.comp FROM r JOIN edges e ON e.x = r.node)
                SELECT * FROM r)
            SELECT node AS doc_id, MIN(comp) AS component
            FROM reach GROUP BY node
        """,
        "decontam": """
            WITH corpus AS (SELECT doc_id, text FROM documents
                            ORDER BY doc_id LIMIT 300),
            bench AS (SELECT text FROM corpus WHERE doc_id % 7 = 0),
            cw AS (SELECT doc_id,
                          regexp_split_to_array(
                              regexp_replace(lower(trim(text)), '\\s+',
                                             ' ', 'g'), ' ') AS w
                   FROM corpus),
            csh AS (
                SELECT DISTINCT doc_id, shingle FROM (
                    SELECT doc_id,
                           unnest([array_to_string(w[i:i+12], ' ')
                                   for i in range(1, len(w) - 11)])
                               AS shingle
                    FROM cw WHERE len(w) >= 13
                    UNION ALL
                    SELECT doc_id, array_to_string(w, ' ')
                    FROM cw WHERE len(w) < 13)),
            bw AS (SELECT regexp_split_to_array(
                       regexp_replace(lower(trim(text)), '\\s+', ' ',
                                      'g'), ' ') AS w
                   FROM bench),
            bsh AS (
                SELECT DISTINCT shingle FROM (
                    SELECT unnest([array_to_string(w[i:i+12], ' ')
                                   for i in range(1, len(w) - 11)])
                               AS shingle
                    FROM bw WHERE len(w) >= 13
                    UNION ALL
                    SELECT array_to_string(w, ' ') FROM bw
                    WHERE len(w) < 13)),
            cont AS (SELECT DISTINCT doc_id
                     FROM csh JOIN bsh USING (shingle))
            SELECT c.doc_id, (cont.doc_id IS NOT NULL) AS contaminated
            FROM corpus c LEFT JOIN cont ON cont.doc_id = c.doc_id
        """,
        "decontam_fuzzy": """
            WITH corpus AS (SELECT doc_id, text FROM documents
                            ORDER BY doc_id LIMIT 200),
            alldocs AS (
                SELECT doc_id, text FROM corpus
                UNION ALL
                SELECT doc_id + 5000000, text || ' tail' FROM corpus
                WHERE doc_id % 9 = 0),
            norm AS (
                SELECT doc_id,
                       regexp_split_to_array(
                           regexp_replace(lower(trim(text)), '\\s+', ' ',
                                          'g'), ' ') AS words
                FROM alldocs),
            sh AS (
                SELECT DISTINCT doc_id, shingle FROM (
                    SELECT doc_id,
                           unnest([array_to_string(words[i:i+2], ' ')
                                   for i in range(1, len(words) - 1)])
                               AS shingle
                    FROM norm WHERE len(words) >= 3
                    UNION ALL
                    SELECT doc_id, array_to_string(words, ' ')
                    FROM norm WHERE len(words) < 3)),
            hv AS (
                SELECT doc_id,
                       CAST(concat('0x', substr(md5(shingle), 1, 12))
                            AS BIGINT) AS ha,
                       CAST(concat('0x', substr(md5('b:' || shingle), 1,
                                                12))
                            AS BIGINT) AS hb
                FROM sh),
            hs AS (
                SELECT doc_id, i,
                       MIN((ha + i * hb) & ((1::BIGINT << 48) - 1)) AS h
                FROM hv CROSS JOIN range(64) t(i)
                GROUP BY doc_id, i),
            bands AS (
                SELECT doc_id, CAST(i // 4 AS INT) AS band,
                       md5(string_agg(h::VARCHAR, ',' ORDER BY i))
                           AS bucket
                FROM hs GROUP BY doc_id, i // 4),
            cands AS (
                SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                FROM bands x JOIN bands y USING (band, bucket)
                WHERE x.doc_id < 5000000 AND y.doc_id >= 5000000),
            sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh
                      GROUP BY doc_id),
            inter AS (
                SELECT c.a, c.b, COUNT(*) AS n_inter
                FROM cands c
                JOIN sh sa ON sa.doc_id = c.a
                JOIN sh sb ON sb.doc_id = c.b AND sb.shingle = sa.shingle
                GROUP BY c.a, c.b)
            SELECT a AS corpus_id, b AS bench_id,
                   round(CAST(n_inter AS DOUBLE)
                         / (sa.n_sh + sb.n_sh - n_inter), 4) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = a
            JOIN sizes sb ON sb.doc_id = b
            WHERE CAST(n_inter AS DOUBLE)
                  / (sa.n_sh + sb.n_sh - n_inter) >= 0.8
        """,
        "token_budget_sample": """
            WITH t AS (
                SELECT doc_id, source,
                       CASE WHEN length(ws_stripped) = 0 THEN 0
                            ELSE len(regexp_split_to_array(ws_stripped,
                                                           '\\s+'))
                       END AS toks
                FROM (SELECT *, regexp_replace(text, '^\\s+|\\s+$', '',
                                               'g') AS ws_stripped
                      FROM documents)),
            tot AS (SELECT source, SUM(toks) AS total FROM t
                    GROUP BY source),
            fr AS (
                SELECT source,
                       CASE WHEN total > 0 THEN
                           least(CAST(1.0 AS DOUBLE),
                                 CAST(CASE source
                                      WHEN 'src0' THEN 1000000.0
                                      WHEN 'src1' THEN 700.0
                                      WHEN 'src2' THEN 300.0
                                      ELSE 500.0 END AS DOUBLE)
                                 / CAST(total AS DOUBLE))
                       ELSE 0.0 END AS frac
                FROM tot)
            SELECT d.doc_id, d.source, round(f.frac, 6) AS frac
            FROM t d JOIN fr f USING (source)
            WHERE CAST(concat('0x', substr(md5(d.doc_id || ':7'), 1, 12))
                       AS BIGINT)
                  < f.frac * 281474976710656.0
        """,
        "stratified_sample": """
            SELECT doc_id, source FROM documents
            WHERE CAST(concat('0x', substr(md5(doc_id || ':7'), 1, 12))
                       AS BIGINT)
                  < (CASE source WHEN 'src0' THEN 1.0
                                 WHEN 'src1' THEN 0.5
                                 WHEN 'src2' THEN 0.25
                                 WHEN 'src3' THEN 0.0
                                 ELSE 0.35 END) * 281474976710656.0
        """,
        "pii_stats": f"""
            WITH planted AS (
                SELECT doc_id,
                       text || ' contact user' || doc_id
                            || '@example.com via http://site' || doc_id
                            || '.org/page'
                            || CASE WHEN doc_id % 3 = 0
                                    THEN ' from 10.0.' || (doc_id % 256)
                                         || '.7'
                                    ELSE '' END
                            || CASE WHEN doc_id % 5 = 0
                                    THEN ' call (303) 555-'
                                         || lpad(CAST(doc_id % 10000
                                                      AS VARCHAR), 4, '0')
                                    ELSE '' END
                            || CASE WHEN doc_id % 4 = 1
                                    THEN ' card 4111-1111-1111-'
                                         || lpad(CAST(doc_id % 10000
                                                      AS VARCHAR), 4, '0')
                                    ELSE '' END AS text
                FROM (SELECT * FROM documents ORDER BY doc_id LIMIT 300))
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text,
                        '{_PII_EMAIL}')) AS INT) AS n_emails,
                   CAST(len(regexp_extract_all(text,
                        '{_PII_URL}')) AS INT) AS n_urls,
                   CAST(len(regexp_extract_all(text,
                        '{_PII_IPV4}')) AS INT) AS n_ipv4,
                   CAST(len(regexp_extract_all(text,
                        '{_PII_PHONE}')) AS INT) AS n_phones,
                   CAST(len(regexp_extract_all(text,
                        '{_PII_CCARD}')) AS INT) AS n_ccards,
                   md5(regexp_replace(regexp_replace(regexp_replace(
                       regexp_replace(regexp_replace(text,
                       '{_PII_EMAIL}', '<PII>', 'g'),
                       '{_PII_URL}', '<PII>', 'g'),
                       '{_PII_IPV4}', '<PII>', 'g'),
                       '{_PII_PHONE}', '<PII>', 'g'),
                       '{_PII_CCARD}', '<PII>', 'g')) AS redacted_md5
            FROM planted
        """,
        "emb_dedup": f"""
            WITH base AS (SELECT vec_id, embedding FROM embeddings
                          ORDER BY vec_id LIMIT 300),
            uni AS (
                SELECT vec_id, embedding FROM base
                UNION ALL
                SELECT vec_id + 1000000, embedding FROM
                  (SELECT * FROM base ORDER BY vec_id LIMIT 50)),
            e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                  FROM uni),
            planes(t, i, pl) AS (VALUES {_PLANES_VALUES}),
            bk AS (
                SELECT e.vec_id, p.t,
                       SUM(CASE WHEN round(list_dot_product(e.v, p.pl), 9)
                                     >= 0
                                THEN (1::BIGINT << p.i) ELSE 0 END)
                           AS bucket
                FROM e CROSS JOIN planes p GROUP BY e.vec_id, p.t),
            cand AS (
                SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
                FROM bk x JOIN bk y
                  ON x.t = y.t AND x.bucket = y.bucket
                     AND x.vec_id < y.vec_id),
            ver AS (
                SELECT c.a, c.b FROM cand c
                JOIN e ea ON ea.vec_id = c.a
                JOIN e eb ON eb.vec_id = c.b
                WHERE round(list_dot_product(ea.v, eb.v)
                      / (sqrt(list_dot_product(ea.v, ea.v))
                         * sqrt(list_dot_product(eb.v, eb.v))), 6)
                      >= 0.99),
            edges AS (SELECT a AS x, b AS y FROM ver
                      UNION SELECT b, a FROM ver),
            nodes AS (SELECT DISTINCT x AS node FROM edges),
            reach AS (
                WITH RECURSIVE r(node, comp) AS (
                    SELECT node, node FROM nodes
                    UNION
                    SELECT eg.y, r.comp FROM r JOIN edges eg
                      ON eg.x = r.node)
                SELECT * FROM r),
            cc AS (SELECT node, MIN(comp) AS component FROM reach
                   GROUP BY node),
            drops AS (SELECT node AS vec_id FROM cc
                      WHERE node != component)
            SELECT u.vec_id FROM uni u
            WHERE u.vec_id NOT IN (SELECT vec_id FROM drops)
        """,
        "media_resize": """
            WITH ids AS (SELECT doc_id AS id FROM
                  (SELECT * FROM documents ORDER BY doc_id LIMIT 200)
                  WHERE doc_id % 2 = 0),
            dims AS (SELECT id, id % 8 + 2 AS w, id % 4 + 2 AS h
                     FROM ids),
            px AS (SELECT id,
                          (id * 7 + ((ny * h) // 2) * w
                           + ((nx * w) // 2)) % 256 AS v
                   FROM dims
                   CROSS JOIN unnest(range(0, 2)) AS a(ny)
                   CROSS JOIN unnest(range(0, 2)) AS b(nx))
            SELECT id AS media_id, CAST(2 AS INT) AS width,
                   CAST(2 AS INT) AS height,
                   round(AVG(CAST(v AS DOUBLE)), 6) AS mean_value
            FROM px GROUP BY id
        """,
        "media_resample": """
            WITH ids AS (SELECT doc_id AS id FROM
                  (SELECT * FROM documents ORDER BY doc_id LIMIT 200)
                  WHERE doc_id % 2 = 1),
            dims AS (SELECT id, id % 32 + 8 AS n FROM ids),
            s AS (SELECT id, n,
                         abs((id * 131 + 17 * i) % 2003 - 1001) AS v
                  FROM dims
                  CROSS JOIN unnest(range(0, 40)) AS t(i)
                  WHERE i < n AND i % 2 = 0)
            SELECT id AS media_id,
                   CAST((n + 1) // 2 AS INT) AS n_samples,
                   CAST(500 AS INT) AS sample_rate,
                   round(AVG(CAST(v AS DOUBLE)), 6) AS mean_abs
            FROM s GROUP BY id, n
        """,
        "media_meta": """
            WITH m AS (
                SELECT doc_id AS media_id,
                       CAST(doc_id % 8 + 2 AS INT) AS w,
                       CAST(doc_id % 4 + 2 AS INT) AS h,
                       CAST(doc_id % 32 + 8 AS INT) AS n
                FROM (SELECT doc_id FROM documents
                      ORDER BY doc_id LIMIT 200))
            SELECT media_id, 'image' AS kind, w AS width, h AS height,
                   CAST(NULL AS INT) AS n_samples,
                   CAST(NULL AS INT) AS duration_ms,
                   round(list_avg(list_transform(
                       range(0, CAST(w * h AS BIGINT)),
                       i -> CAST((media_id * 7 + i) % 256 AS DOUBLE))), 6)
                       AS mean_value
            FROM m WHERE media_id % 2 = 0
            UNION ALL
            SELECT media_id, 'audio', NULL, NULL, n, n,
                   round(list_avg(list_transform(
                       range(0, CAST(n AS BIGINT)),
                       i -> CAST(abs((media_id * 131 + i * 17) % 2003
                                     - 1001) AS DOUBLE))), 6)
            FROM m WHERE media_id % 2 = 1
        """,
        "ann_topk": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings),
            q AS (SELECT vec_id AS q_id, v AS qv FROM e
                  ORDER BY vec_id LIMIT 10),
            scored AS (
                SELECT q.q_id, e.vec_id,
                       round(list_dot_product(e.v, q.qv)
                             / (sqrt(list_dot_product(e.v, e.v))
                                * sqrt(list_dot_product(q.qv, q.qv))), 4)
                           AS cosine
                FROM e CROSS JOIN q),
            ranked AS (
                SELECT q_id, vec_id,
                       CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                           ORDER BY cosine DESC, vec_id) AS INT) AS rank
                FROM scored)
            SELECT q_id, vec_id, rank FROM ranked WHERE rank <= 5
        """,
        "ann_topk_hd": f"""
            WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                          FROM embeddings ORDER BY vec_id LIMIT 300),
            t AS (SELECT vec_id,
                         flatten(list_transform(range(16), i -> v)) AS v
                  FROM base),
            planes(i, pl) AS (VALUES {_PLANES_VALUES_HD}),
            bk AS (
                SELECT t.vec_id,
                       SUM(CASE WHEN round(list_dot_product(t.v, p.pl), 9)
                                     >= 0
                                THEN (1::BIGINT << p.i) ELSE 0 END)
                           AS bucket
                FROM t CROSS JOIN planes p GROUP BY t.vec_id),
            q AS (SELECT vec_id AS q_id, v AS qv FROM t
                  ORDER BY vec_id LIMIT 10),
            qb AS (SELECT q.q_id, q.qv, bk.bucket
                   FROM q JOIN bk ON bk.vec_id = q.q_id),
            scored AS (
                SELECT qb.q_id, t.vec_id,
                       round(list_dot_product(t.v, qb.qv)
                             / (sqrt(list_dot_product(t.v, t.v))
                                * sqrt(list_dot_product(qb.qv, qb.qv))), 4)
                           AS cosine
                FROM t JOIN bk ON bk.vec_id = t.vec_id
                       JOIN qb ON qb.bucket = bk.bucket),
            ranked AS (
                SELECT q_id, vec_id,
                       CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                           ORDER BY cosine DESC, vec_id) AS INT) AS rank
                FROM scored)
            SELECT q_id, vec_id, rank FROM ranked WHERE rank <= 5
        """,
        "ivf_probe_hd": """
            WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                          FROM embeddings ORDER BY vec_id LIMIT 300),
            t AS (SELECT vec_id,
                         flatten(list_transform(range(16), i -> v)) AS v
                  FROM base),
            cents AS (
                SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1
                            AS INT) AS cell, v AS c
                FROM (SELECT * FROM t ORDER BY vec_id LIMIT 16)),
            q AS (SELECT vec_id AS q_id, v AS qv FROM t
                  ORDER BY vec_id LIMIT 10),
            scored AS (
                SELECT q.q_id, cents.cell,
                       round(list_dot_product(q.qv, cents.c), 6) AS score
                FROM q CROSS JOIN cents),
            ranked AS (
                SELECT q_id, cell,
                       CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                           ORDER BY score DESC, cell) - 1 AS INT)
                           AS probe_rank
                FROM scored)
            SELECT q_id, probe_rank, cell FROM ranked
            WHERE probe_rank < 4
        """,
    }
    out = {**kg_sql, **ops_sql, **dataops_sql, **{
        "match_rel": f"""
            SELECT '{B}nation/' || n_nationkey AS origin, n_name AS name
            FROM nation
            UNION ALL
            SELECT '{B}region/' || r_regionkey AS origin, r_name AS name
            FROM region
        """,
        "multimatch": f"""
            SELECT '{B}nation/' || n_nationkey AS origin, n_name AS name
            FROM nation WHERE n_name IN ('NATION_0', 'NATION_7', 'ASIA')
            UNION ALL
            SELECT '{B}region/' || r_regionkey AS origin, r_name AS name
            FROM region WHERE r_name IN ('NATION_0', 'NATION_7', 'ASIA')
        """,
        "all_origins_typed": f"""
            SELECT DISTINCT '{B}customer/' || c_custkey AS origin
            FROM customer WHERE c_mktsegment = 'BUILDING'
        """,
        "follow_hops": f"""
            SELECT '{B}customer/' || c_custkey AS customer,
                   r_name AS region_name
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
        """,
        "static_index_count": f"""
            SELECT '{B}customer/' || c_custkey AS origin,
                   CAST(1 AS INT) AS n_vals
            FROM customer
        """,
        "resourcetypes": f"""
            SELECT DISTINCT '{B}customer/' || c_custkey AS origin,
                   '{B}segment/' || c_mktsegment AS typ
            FROM customer
        """,
    }}

    # --- round-6 registry consolidation: merged oracles are the literal
    # UNION ALL of the round-5 standalone oracles under label columns, so
    # each merged driver row carries the full value check of every
    # sub-oracle it replaced (see the matching _q_* docstrings).
    _fu = out.pop("event_funnel")
    _wi = out.pop("event_windows")
    _pc = out.pop("event_percentiles")
    _re = out.pop("event_retention")
    out["event_analytics"] = f"""
        SELECT 'funnel' AS metric, CAST(stage_ix AS VARCHAR) AS k1,
               stage AS k2, CAST(n_users AS DOUBLE) AS v
        FROM ({_fu})
        UNION ALL
        SELECT 'win_' || kind, CAST(bucket_us AS VARCHAR), event_type, val
        FROM (SELECT bucket_us, event_type,
                     unnest(['events', 'users', 'value']) AS kind,
                     unnest([CAST(n_events AS DOUBLE),
                             CAST(n_users AS DOUBLE), value_sum]) AS val
              FROM ({_wi}))
        UNION ALL
        SELECT 'pctl', event_type, unnest(['p50', 'p90', 'p99']),
               unnest([p50, p90, p99])
        FROM ({_pc})
        UNION ALL
        SELECT 'retention', CAST(cohort_us AS VARCHAR),
               CAST(bucket_offset AS VARCHAR), CAST(n_users AS DOUBLE)
        FROM ({_re})
    """
    _rz = out.pop("media_resize")
    _rs = out.pop("media_resample")
    out["media_transform"] = f"""
        SELECT media_id, 'resize' AS op, width AS d1, height AS d2,
               mean_value AS stat
        FROM ({_rz})
        UNION ALL
        SELECT media_id, 'resample', n_samples, sample_rate, mean_abs
        FROM ({_rs})
    """
    _dp = out.pop("dup_components")
    _dc = out.pop("dup_chain_components")
    out["dup_components_all"] = f"""
        SELECT 'pairgraph' AS graph, doc_id, component FROM ({_dp})
        UNION ALL
        SELECT 'chain', doc_id, component FROM ({_dc})
    """
    _bf = out.pop("ann_topk")
    _hd = out.pop("ann_topk_hd")
    _iv = out.pop("ivf_probe_hd")
    out["ann_topk_all"] = f"""
        SELECT 'bf64' AS mode, q_id, vec_id, rank FROM ({_bf})
        UNION ALL
        SELECT 'lsh_hd', q_id, vec_id, rank FROM ({_hd})
        UNION ALL
        SELECT 'ivf_probe', q_id, CAST(cell AS BIGINT), probe_rank
        FROM ({_iv})
    """
    _de = out.pop("decontam")
    _dz = out.pop("decontam_fuzzy")
    out["decontam_all"] = f"""
        SELECT 'exact' AS mode, doc_id AS a, CAST(-1 AS BIGINT) AS b,
               CAST(CAST(contaminated AS INT) AS DOUBLE) AS score
        FROM ({_de})
        UNION ALL
        SELECT 'fuzzy', corpus_id, bench_id, jaccard FROM ({_dz})
    """
    _tb = out.pop("token_budget_sample")
    _ss = out.pop("stratified_sample")
    out["sample_mix"] = f"""
        SELECT 'budget' AS mode, doc_id, source, frac FROM ({_tb})
        UNION ALL
        SELECT 'strat', doc_id, source, CAST(-1.0 AS DOUBLE) FROM ({_ss})
    """
    # Exact-substring removal (round 6): replay discovery (hot 5-grams in
    # >= 2 docs), interval coverage of overlapping windows, and the
    # token-stream rewrite; untouched docs must hash byte-identical.
    out["substring_dedup"] = """
        WITH corpus AS (SELECT doc_id, text FROM documents
                        ORDER BY doc_id LIMIT 300),
        planted AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 10 = 0
                        THEN 'shared header boilerplate alpha beta gamma '
                        ELSE '' END
                   || text ||
                   CASE WHEN doc_id % 4 = 0
                        THEN ' shared footer sentence repeated across'
                             || ' many documents here'
                        ELSE '' END AS text
            FROM corpus),
        w AS (SELECT doc_id, text,
                     list_filter(regexp_split_to_array(
                         regexp_replace(lower(trim(text)), '\\s+', ' ',
                                        'g'), ' '),
                         x -> x <> '') AS words
              FROM planted),
        g AS (SELECT doc_id,
                     unnest(range(0, greatest(len(words) - 4, 0))) AS pos,
                     unnest([array_to_string(words[i+1:i+5], ' ')
                             for i in range(0, greatest(len(words) - 4,
                                                        0))]) AS gram
              FROM w),
        hot AS (SELECT gram FROM g GROUP BY gram
                HAVING COUNT(DISTINCT doc_id) >= 2),
        st AS (SELECT doc_id, list_sort(list(pos)) AS starts
               FROM g JOIN hot USING (gram) GROUP BY doc_id)
        SELECT w.doc_id,
               md5(CASE WHEN st.starts IS NULL THEN w.text
                   -- array_to_string([]) is NULL in DuckDB but Spark's
                   -- concat_ws is '': coalesce so a fully-boilerplate
                   -- doc hashes as the empty string in both engines
                   ELSE coalesce(array_to_string(list_transform(
                       list_filter(range(0, len(words)),
                           j -> len(list_filter(st.starts,
                                    s -> s <= j AND j < s + 5)) = 0),
                       j -> words[j+1]), ' '), '') END) AS clean_md5,
               CAST(CASE WHEN st.starts IS NULL THEN 0
                    ELSE len(words) - len(list_filter(
                        range(0, len(words)),
                        j -> len(list_filter(st.starts,
                                 s -> s <= j AND j < s + 5)) = 0))
                    END AS INT) AS n_tokens_removed,
               CAST(CASE WHEN st.starts IS NULL THEN 0
                    ELSE len(list_filter(st.starts,
                         s -> len(list_filter(st.starts,
                                  s2 -> s2 < s AND s2 >= s - 5)) = 0))
                    END AS INT) AS n_spans
        FROM w LEFT JOIN st USING (doc_id)
    """
    # Incremental append (round 6): the combined base+batch view must
    # equal a full rebuild, so the oracle is the full-corpus triple SQL.
    out["kg_incremental"] = out["kg_graph_triples"]
    return out
