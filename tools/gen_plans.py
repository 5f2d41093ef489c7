"""Regenerate PLANS.md — physical-plan audit of the headline operators.
Run from the repo root:  python tools/gen_plans.py
"""
import sys, os
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql import SparkSession

def main():
    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "16")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.ui.enabled", "false").getOrCreate())
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    out = open("PLANS.md", "w")
    out.write("""# PLANS — physical-plan audit of the headline operators

Evidence that the plans are the ones we want at 100 TB: filters reach the
parquet scans (`PushedFilters`), projections prune columns (`ReadSchema`),
small sides broadcast, expressions stay inside WholeStageCodegen, and the
window sort is absent from the triple-build plan. Regenerate with
`python tools/gen_plans.py`.

""")

    def write_section(title, plan, note):
        lines = plan.splitlines()[:42]
        out.write(f"## {title}\n\n{note}\n\n```\n"
                  + "\n".join(lines) + "\n```\n\n")

    def section(title, df, note):
        write_section(title,
                      df._jdf.queryExecution().executedPlan().toString(),
                      note)

    def last_job_plan():
        """Physical plan of the latest SQL execution — the job that
        materialized an eagerly checkpointed result — read from the
        status store, which Spark keeps with the UI off."""
        execs = spark._jsparkSession.sharedState().statusStore() \
            .executionsList()
        return execs.apply(execs.size() - 1).physicalPlanDescription()

    import __spark_entry__ as e

    section("match(rel=…) over derived quads",
            e.queries()["match_rel"](spark, sf),
            "The rel filter collapses into the explode's array "
            "construction — only the needed source columns are read "
            "(`ReadSchema`); one WholeStageCodegen span; no shuffle.")

    df = e.queries()["follow_hops"](spark, sf); df.count()
    section("follow (3-hop traversal)", df,
            "Chained equi-joins; AQE converts the per-hop joins to "
            "broadcast hash joins at these sizes (`BroadcastHashJoin`); "
            "at scale the same plan degrades gracefully to sort-merge.")

    df = e.queries()["kg_graph_triples"](spark, sf); df.count()
    section("KG triple build (flagship)", df,
            "No Window operator (rank pruned — not consumed by link "
            "generation); round 7: the mention scan is a pure JVM regexp "
            "column expression, so there is NO Python evaluation node in "
            "the whole plan; the fat text column never reaches a persist "
            "or exchange beyond the initial scan, and the former trailing "
            "distinct over already-unique triples is gone.")

    from versa_spark.kg import canonicalize, extract
    from versa_spark.kg.transcripts import (ordered_turns,
                                            transcripts_from_documents)
    turns = ordered_turns(transcripts_from_documents(spark, sf))
    linked = extract.lexicon_linked_mentions(turns)
    stats = canonicalize.entity_mention_counts(linked)
    stats.count()
    section("salted canonicalization", stats,
            "Two HashAggregate pairs (partial/final) around the salted "
            "key — the hot 'spark' entity spreads over `salt` reducers in "
            "phase 1; phase 2 sees at most `salt` rows per entity.  "
            "Linking is the lexicon's literal map in the scan's own "
            "projection (extract.lexicon_linked_mentions), so there is no "
            "join and no ArrowEvalPython node anywhere in this plan.")

    from versa_spark import dedup
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    sig = dedup.minhash_signatures(docs.select("doc_id", "text"),
                                   num_hashes=16)
    sig.count()
    section("MinHash signatures", sig,
            "min() aggregates after one explode — all JVM whole-stage "
            "codegen, no Python in the signature path.")

    ml = canonicalize.mention_links(linked)
    ml.count()
    section("mention-link dedup (generic-dictionary path)", ml,
            "With an arbitrary dictionary the dedup exchange hashes only "
            "(conv_id, turn_idx, entity_iri) — the 42-byte turn IRI and "
            "the constant rel are rebuilt by Project AFTER the exchange, "
            "roughly halving shuffle bytes; no `turn_iri` appears in any "
            "Exchange.")

    mls = canonicalize.mention_links_from_eids(
        extract.turn_entity_ids(turns.drop("turn_rank")))
    mls.count()
    section("mention links (default path — ZERO exchange)", mls,
            "Round 3: with the extraction lexicon as the dictionary, "
            "alias collapse happens in-plan (array_distinct over "
            "canonical indices) before the explode, and (conv_id, "
            "turn_idx) uniquely keys turns — the mention-link plan adds "
            "NO Exchange: scan → extraction → explode → project.  "
            "Round 7: the extraction is a pure JVM regexp column "
            "expression (no ArrowEvalPython anywhere), and the fixture's "
            "input hash-shuffle is gone too, so the path is exchange- "
            "free end to end.")

    df = e.queries()["kg_mentions_bigdict"](spark, sf); df.count()
    section("large-dictionary mention detection (token n-gram ⋈ gazetteer)",
            df,
            "Candidate 1..2-grams build inside per-row array expressions "
            "(array_distinct BEFORE the explode — output rows unique per "
            "(turn, surface), no post-join dedup shuffle); the 20k-surface "
            "dictionary arrives as BroadcastExchange so the exploded turn "
            "stream never exchanges; min/max surface-length pruning "
            "(harvested by the counted broadcast guard) filters "
            "candidates before the join.")

    from pyspark.sql import functions as F
    cap = (docs.orderBy("doc_id").limit(200)
           .select("doc_id", "text"))
    both = cap.unionByName(cap.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat("text", F.lit(" appended")).alias("text")))
    # the library checkpoints the candidates before verifying; composing
    # discovery with the same verify kernel keeps the whole DAG in view
    ver = dedup.ngram_jaccard_pairs(
        both, threshold=0.8,
        candidates=dedup.minhash_lsh_candidates(both, verify_threshold=None))
    ver.count()
    section("MinHash-LSH verify (candidate-scoped)", ver,
            "Jaccard is computed ONLY for candidate pairs: the shingle "
            "table is left-semi-joined to candidate doc ids before any "
            "pair join — no all-pairs shingle self-join exists in the "
            "plan (the round-1 scale defect).")

    bench = (cap.filter(F.col("doc_id") % 9 == 0)
             .select((F.col("doc_id") + 5000000).alias("doc_id"),
                     F.concat("text", F.lit(" tail")).alias("text")))
    c_banded = dedup._banded_signatures(cap, "doc_id", "text", 3, 64, 16,
                                        "xxhash64")
    b_banded = F.broadcast(dedup._banded_signatures(
        bench, "doc_id", "text", 3, 64, 16, "xxhash64"))
    fz = (c_banded.select(F.col("doc_id").alias("a"), "band", "bucket")
          .join(b_banded.select(F.col("doc_id").alias("b"),
                                "band", "bucket"),
                ["band", "bucket"])
          .select("a", "b").distinct())
    fz.count()
    section("fuzzy decontamination discovery (cross-corpus LSH)", fz,
            "The benchmark banded table joins as BroadcastHashJoin "
            "(counted guard in decontaminate_fuzzy; explicit hint "
            "here because the production path eagerly materializes "
            "its verified pairs) — the corpus banding stream never "
            "shuffles for discovery; only the candidate distinct "
            "exchanges, and that is sized by near-dup pairs, not the "
            "corpus.")

    from versa_spark import textops
    tb = textops.sample_to_token_budget(
        docs.select("doc_id", "source", "text"),
        {"src0": 1_000_000.0, "src1": 700.0}, default_budget=500.0)
    tb.count()
    section("token-budget sampling (data mixing)", tb,
            "The per-source totals aggregate is tiny and joins back as "
            "BroadcastHashJoin; the keep/drop decision is a map-side "
            "hash-threshold filter — no second exchange, layout- and "
            "engine-independent.")

    pii = textops.pii_redact(textops.pii_stats(
        docs.select("doc_id", "text")))
    pii.count()
    section("PII counting + redaction", pii,
            "regexp_count / chained regexp_replace — one scan, zero "
            "exchange, a single WholeStageCodegen span; the Java∩RE2 "
            "pattern subset keeps the DuckDB oracle byte-identical.")

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    dd = dedup.dedup_embeddings(emb.limit(200), threshold=0.99, dim=64)
    dd.count()
    section("embedding near-dup removal (LSH-bucketed)", dd,
            "Discovery groups only within hyperplane buckets (one "
            "groupBy over the 64-bit bucket ids of all tables — never a "
            "crossJoin); in-bucket cosine verify, pointer-doubling "
            "components (LogicalRDD after checkpoint), anti-join keeps "
            "representatives.  Each table's bucket signatures are one "
            "ArrowEvalPython (simsearch's matmul projection kernel: the "
            "plane matrix rides the UDF closure, not the plan); they "
            "sit upstream of "
            "the components checkpoint, so they show in the "
            "checkpointed plans, not in this final one.")

    from versa_spark import events as ev
    es = ev.session_stats(spark.read.parquet(f"{sf}/events.parquet"))
    es.count()
    section("event sessionization", es,
            "Both windows (lag + running sum) share ONE Exchange on "
            "user_id; the rollup is a partial/final HashAggregate pair; "
            "JSON prop extraction (get_json_object) stays inside "
            "WholeStageCodegen.")

    evt = spark.read.parquet(f"{sf}/events.parquet")
    aj = ev.asof_join(
        evt.filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts"),
        evt.filter(F.col("event_type") == "click"),
        right_cols=("event_id", "value"), tiebreak="event_id")
    aj.count()
    section("as-of join (single-shuffle union+window)", aj,
            "ONE Exchange (hash on user_id) and ZERO Join operators in "
            "the whole plan — the union of tagged sides flows through "
            "one Window carrying the last-right payload struct; the "
            "naive emulation would need a range join plus an argmax "
            "shuffle plus a re-join.")

    from versa_spark.kg import analytics
    lk = linked.select("conv_id", "turn_idx", "entity_iri")
    # the result is a checkpoint: audit the plan of the job that built it
    pmi = analytics.cooccurrence_pmi(lk)
    write_section("entity co-occurrence + PMI", last_job_plan(),
            "Pairs generate INSIDE per-turn arrays (nested transform/"
            "slice — no corpus self-join anywhere in the plan); the two "
            "aggregations are partial/final pairs; marginals and the "
            "turn-count scalar enter as BroadcastHashJoin / "
            "BroadcastNestedLoopJoin of 1-row/dictionary-sized sides.")

    analytics.cooccurrence_pmi_from_sets(e._kg_entity_sets(spark, sf))
    write_section("co-occurrence from zero-exchange entity sets",
                  last_job_plan(),
            "The sets producer (turn_entity_iri_sets, audited here "
            "through the driver's own _kg_entity_sets derivation) is "
            "pure map-side — the mention scan (JVM regexp since r7), "
            "tinyint canonicalization and IRI mapping all happen "
            "in-row, so the collect_set corpus Exchange of the "
            "mention-row path vanishes entirely; the only exchanges the "
            "OPERATOR adds are the pair-sized and entity-sized "
            "aggregations.  This is the default driver/CLI path since "
            "round 5 (37.5 s → 5.1 s at 4M turns).")

    tri = analytics.triangle_stats(
        pmi.select(F.col("a").alias("src"), F.col("b").alias("dst")))
    tri.count()
    section("triangle census (degree-oriented)", tri,
            "Every edge is oriented from its (degree, id)-smaller "
            "endpoint before the wedge join, bounding per-vertex "
            "oriented out-degree by O(sqrt(m)) — the wedge join can "
            "never square a celebrity vertex; the closing-edge probe is "
            "an equi-join on the oriented pair.")

    from versa_spark import textops
    tf = textops.tfidf_top_terms(docs.select("doc_id", "text"), k=3)
    tf.count()
    section("TF-IDF top-k per document", tf,
            "Tokenize→tf→df are partial/final HashAggregate pairs (hot "
            "stopword terms arrive at reducers pre-combined); the tf⋈df "
            "join runs under AQE; the top-k window partitions by doc_id "
            "— bounded rows per partition, never a global sort.")

    fn = ev.funnel(evt)
    section("strict-order funnel (post-checkpoint)", fn,
            "The returned frame is the eagerly-checkpointed k-row "
            "result (LogicalRDD) — each frontier is persisted during "
            "the build so no stage chain re-executes; the per-stage "
            "build is filter → user-keyed frontier join → min "
            "aggregate, frontiers monotonically shrinking.")

    rc = ev.retention_cohorts(evt, bucket_s=86_400)
    section("retention cohorts (post-checkpoint)", rc,
            "Same lifecycle: the distinct (user, bucket) activity "
            "frame feeds the first-event aggregate AND the join, so it "
            "persists for the call; buckets are integer epoch "
            "arithmetic (tz-free); the returned rollup is "
            "bucket-pair-sized and checkpointed.")

    import tempfile

    from pyspark.sql import functions as F

    from versa_spark.kg.job import KGJob
    from versa_spark.kg.transcripts import transcripts_from_documents
    tx = transcripts_from_documents(spark, sf)
    h = F.pmod(F.xxhash64("conv_id"), F.lit(4))
    kj = KGJob(spark, tempfile.mkdtemp(prefix="plans_kg_"))
    kj.run(tx.filter(h != 0), input_fingerprint="base")
    kj.append_batch(tx.filter(h == 0), "b1", input_fingerprint="b1")
    rel = __import__("versa_spark.kg.extract", fromlist=["x"]) \
        .turn_relations(tx.withColumn(
            "turn_iri", F.concat(F.lit("t/"), "conv_id", F.lit("/"),
                                 F.col("turn_idx"))),
            verbs=("fast", "slow", "big", "small"))
    section("verb-linked relation extraction", rel,
            "Two fused-regex passes over the text (regexp_extract_all "
            "for occurrence-ordered mentions, split on the identical "
            "pattern for between-texts), map-literal canonicalization, "
            "one Generate (explode) — no Exchange anywhere: the "
            "relation pass is one more columnar scan of the turns "
            "table at any corpus size.")

    section("incremental append — combined graph view (table())",
            kj.table("graph"),
            "Reading the grown graph is one parquet scan over the "
            "committed epochs (base + one `ep=<n>` directory per "
            "committed batch) — zero recompute. "
            "The append itself scanned ONLY the batch inputs: the one "
            "non-conversation-local family (entity type/label links) "
            "anti-joins the batch's distinct entities against the "
            "committed entity_stats AGGREGATE (dictionary-bounded, "
            "broadcastable at any corpus size), so per-batch cost is "
            "O(batch), never O(corpus).  After many appends, "
            "compact_to bounds the scan's file count by rewriting "
            "into a fresh workdir.")
    out.close()
    print("PLANS.md written")
    spark.stop()

if __name__ == "__main__":
    main()
