"""Graph analytics over the constructed KG — the consumption side of
kg_construct: once triples are materialized, a pipeline needs entity
co-occurrence statistics (PMI), centrality (PageRank), local structure
(triangles / clustering), temporal extents, and training-example
generation (corrupted-triple negative sampling for KG-embedding
training).

The Versa reference stops at link storage + traversal (its pipeline
emits link tuples; versa.query walks them) — these are the
beyond-reference analytics a 10^12-turn KG actually gets queried with.
Every operator here is expressed so a SQL engine can replay it exactly
(DuckDB oracles in __spark_entry__.py): integer counts, ln/round(…,4)
for the one real-valued score, md5-derived indices for sampling.

Scale notes per operator are in the docstrings; the common rules:
pair/wedge generation happens inside array expressions (JVM, no
self-join) wherever the per-group set is bounded; iterative algorithms
localCheckpoint each round (lineage truncation, the
transitive_closure/connected_components convention); dictionary-sized
side tables broadcast, corpus-sized frames never do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from versa_spark.dedup import _pair_expand, family_hash_sql
from versa_spark.sqlquote import quote_literal


def _scalar_col(df: DataFrame, expr, name: str) -> DataFrame:
    """Attach a 1-row aggregate of *df* as a constant column via a
    broadcast cross join — keeps scalars in the plan (no driver
    ``.collect()`` round trip, no action before the consumer runs)."""
    one = df.agg(expr.alias(name))
    return F.broadcast(one)


def turn_entity_sets(linked: DataFrame) -> DataFrame:
    """(conv_id, turn_idx, entity_iri) mention rows → one row per turn
    with ``ents``: the sorted DISTINCT entity list.

    ONE exchange keyed on (conv_id, turn_idx) — high-cardinality, no hot
    key (a turn mentions a bounded number of entities), with map-side
    partial collect_set.  Everything downstream (pair generation, entity
    marginals) derives from this frame without another corpus-wide
    shuffle over text-sized rows."""
    return (linked
            .groupBy("conv_id", "turn_idx")
            .agg(F.sort_array(F.collect_set("entity_iri")).alias("ents")))


def _pairs_from_sets(sets: DataFrame) -> DataFrame:
    """Unordered pairs (a < b) from each row's sorted ``ents`` array,
    generated INSIDE the row by dedup's pair expansion — JVM
    expressions, no self-join, no shuffle.  Output is one row per
    (turn, pair) occurrence."""
    return (sets
            .select("conv_id", "turn_idx",
                    F.explode(_pair_expand("ents")).alias("p"))
            .select("conv_id", "turn_idx", "p.a", "p.b"))


def cooccurrence_pmi(linked: DataFrame, min_pairs: int = 1) -> DataFrame:
    """Entity co-occurrence with pointwise mutual information.

    Event space: turns with >= 1 linked mention (N).  For entities a, b:
    n_a = turns mentioning a, n_ab = turns mentioning both, and
    pmi = ln(n_ab * N / (n_a * n_b)), rounded to 4 decimals.

    Plan: one corpus shuffle builds the per-turn sets
    (turn_entity_sets); pairs explode in-plan; the pair count is a
    second, narrow shuffle (two IRI columns); marginals n_a are
    dictionary-sized and BROADCAST into the final join; N rides a
    broadcast 1-row cross join.  Nothing corpus-sized is ever joined to
    itself — at 10^12 turns the classic mentions-self-join would square
    the corpus; this shape never does.

    The ``sets`` frame has THREE consumers (pair counts, marginals, N),
    so it is persisted for the duration and the pair table —
    entity-pair-sized, tiny next to the corpus — is EAGERLY
    checkpointed so the cache releases before returning (the
    minhash_lsh_candidates lifecycle: without this, one action executes
    the upstream extraction three times).

    When the producer ALREADY has per-turn entity arrays — the
    ``turns`` frame ``kg.graph.build_graph`` persists carries them
    (`eids`, kg/extract.turn_entity_ids; ``KGJob`` writes mention rows
    instead) — call ``cooccurrence_pmi_from_sets`` instead: it skips
    this function's collect_set exchange entirely (measured 37.5 s →
    5.1 s best-lap at 4M turns, local[32]), leaving only the narrow
    pair/marginal aggregations."""
    sets = turn_entity_sets(linked)
    return cooccurrence_pmi_from_sets(sets, min_pairs=min_pairs)


def cooccurrence_pmi_from_sets(sets: DataFrame,
                               min_pairs: int = 1) -> DataFrame:
    """cooccurrence_pmi for producers that already hold one row per
    turn with a DISTINCT entity array ``ents`` — no corpus shuffle at
    all: pairs and marginals explode in-plan (map side) and only the
    pair-sized / entity-sized aggregations exchange.

    The input is normalized defensively (all map-side, costless next
    to the exchange this path avoids): ``ents`` is DEDUPED — an array
    with repeats would emit self-pairs and double-count n_ab/marginals
    where the mention-row path's collect_set cannot (the CLI feeds this
    function arbitrary external parquet) — then re-sorted — pair
    generation is positional, so an unsorted array would emit (b, a)
    and split one pair's count across two rows — and zero-entity rows
    are dropped so the PMI event space stays "turns with ≥ 1 mention",
    matching the mention-row path (kg/extract.turn_entity_ids keeps
    mention-free turns as empty arrays; map its tinyint indices to
    labels first if label pairs are wanted)."""
    sets = (sets.filter(F.size("ents") > 0)
            .withColumn("ents", F.sort_array(F.array_distinct("ents")))
            .persist())
    try:
        pair_counts = (_pairs_from_sets(sets)
                       .groupBy("a", "b")
                       .agg(F.count("*").alias("n_ab"))
                       .filter(F.col("n_ab") >= min_pairs))
        marginals = (sets
                     .select("conv_id", "turn_idx",
                             F.explode("ents").alias("e"))
                     .groupBy("e").agg(F.count("*").alias("n_e")))
        n_total = _scalar_col(sets, F.count("*"), "n_turns")
        return (pair_counts
                .join(F.broadcast(marginals.withColumnRenamed("e", "a")
                                  .withColumnRenamed("n_e", "n_a")), "a")
                .join(F.broadcast(marginals.withColumnRenamed("e", "b")
                                  .withColumnRenamed("n_e", "n_b")), "b")
                .crossJoin(n_total)
                .select("a", "b", "n_ab", "n_a", "n_b",
                        F.round(F.log(F.col("n_ab").cast("double")
                                      * F.col("n_turns")
                                      / (F.col("n_a").cast("double")
                                         * F.col("n_b"))), 4)
                        .alias("pmi"))
                .localCheckpoint(eager=True))
    finally:
        sets.unpersist()


def cooccurrence_edges(linked: DataFrame,
                       min_pairs: int = 1) -> DataFrame:
    """Undirected co-mention graph: (src, dst, weight=n_ab), src < dst.

    Pair counts only — skips the PMI machinery (marginal joins, N
    cross-join, log) that cooccurrence_pmi would compute and this
    output drops."""
    pairs = (_pairs_from_sets(turn_entity_sets(linked))
             .groupBy("a", "b")
             .agg(F.count("*").alias("weight"))
             .filter(F.col("weight") >= min_pairs))
    return pairs.select(F.col("a").alias("src"),
                        F.col("b").alias("dst"), "weight")


def pagerank(edges: DataFrame, iterations: int = 3,
             damping: float = 0.85, src: str = "src",
             dst: str = "dst", round_to: int = 6) -> DataFrame:
    """Fixed-iteration PageRank (power method) over a directed edge
    list; returns (node, rank).

    pr_0(v) = 1/N;  pr_{k+1}(v) = (1-d)/N + d * Σ_{u→v} pr_k(u)/out(u).
    Dangling mass is NOT redistributed (the simplified formulation —
    documented so the SQL oracle can unroll the identical recurrence).
    Ranks round to *round_to* decimals at the END only.

    Scale: per iteration, one join of the edge list with the rank
    vector on the src key and one groupBy(dst) — both hash-partitioned
    on node keys, so with the edge list pre-partitioned by src the join
    side reuses its partitioning across all iterations.  Each round
    ends in a lazy ``localCheckpoint`` (the iterative-op convention
    here, cf. ops.transitive_closure): lineage stays O(1) instead of
    O(iterations), which is what keeps 30-iteration runs plannable.
    The rank vector is node-sized (≪ edges); the edge list is never
    materialized to the driver."""
    e = (edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
         .filter(F.col("_s") != F.col("_d")).distinct())
    nodes = (e.select(F.col("_s").alias("node"))
             .unionByName(e.select(F.col("_d").alias("node")))
             .distinct())
    out_deg = e.groupBy("_s").agg(F.count("*").alias("_out"))
    # links is consumed once PER ITERATION — without the persist, one
    # final action re-executes the whole upstream edge derivation
    # `iterations` times (measured 49 s → 7.4 s at sf0.01 on the
    # co-mention graph); the node-sized result is eagerly checkpointed
    # so both caches release before returning
    links = e.join(out_deg, "_s").persist()
    n1 = _scalar_col(nodes, F.count("*"), "_n")
    nodes = nodes.crossJoin(n1).persist()
    try:
        ranks = nodes.select("node", "_n",
                             (F.lit(1.0) / F.col("_n")).alias("rank"))
        for _ in range(int(iterations)):
            contribs = (links
                        .join(ranks.select(F.col("node").alias("_s"),
                                           "rank"), "_s")
                        .groupBy("_d")
                        .agg(F.sum(F.col("rank") / F.col("_out"))
                             .alias("_c")))
            ranks = (nodes
                     .join(contribs.withColumnRenamed("_d", "node"),
                           "node", "left")
                     .select("node", "_n",
                             ((1.0 - damping) / F.col("_n")
                              + damping * F.coalesce(F.col("_c"),
                                                     F.lit(0.0)))
                             .alias("rank")))
            ranks = ranks.localCheckpoint(eager=False)
        return (ranks.select("node",
                             F.round("rank", round_to).alias("rank"))
                .localCheckpoint(eager=True))
    finally:
        links.unpersist()
        nodes.unpersist()


def triangle_stats(edges: DataFrame, src: str = "src",
                   dst: str = "dst") -> DataFrame:
    """One-row global structure summary of an (implicitly undirected)
    edge list: n_nodes, n_edges, n_wedges (open 2-paths), n_triangles,
    and the global clustering coefficient 3·triangles/wedges
    (round 4 dp; NULL when wedge-free).

    Scale: the naive triangle join squares the hottest vertex — a
    celebrity node with degree 10^6 contributes 10^12 candidate wedges.
    This implementation uses DEGREE ORIENTATION (each undirected edge
    points from the (degree, id)-smaller endpoint to the larger), the
    standard bound: every vertex's ORIENTED out-degree is O(sqrt(m)),
    so the wedge join touches O(m^1.5) rows worst case regardless of
    skew, and every triangle is generated exactly once (from its
    order-minimal vertex).  The closing-edge probe is an equi-join on
    the oriented pair.  The SQL oracle counts the same triangles the
    naive a<b<c way — orientation changes the plan, never the count."""
    und = (edges
           .select(F.least(src, dst).alias("a"),
                   F.greatest(src, dst).alias("b"))
           .filter(F.col("a") != F.col("b"))
           .distinct()
           .persist())
    try:
        return _triangle_stats_assemble(und).localCheckpoint(eager=True)
    finally:
        # the deduped edge frame feeds FOUR consumers (degree, oriented
        # edges, edge count, wedge count); the 1-row result checkpoints
        # eagerly so the cache releases here instead of leaking per call
        und.unpersist()


def _triangle_stats_assemble(und: DataFrame) -> DataFrame:
    deg = (und.select(F.explode(F.array("a", "b")).alias("v"))
           .groupBy("v").agg(F.count("*").alias("d")))
    # orient: u -> w  iff  (d_u, u) < (d_w, w); carry (d_w, w) so the
    # wedge join can order its two endpoints without another deg join
    withdeg = (und
               .join(deg.withColumnRenamed("v", "a")
                     .withColumnRenamed("d", "da"), "a")
               .join(deg.withColumnRenamed("v", "b")
                     .withColumnRenamed("d", "db"), "b"))
    lower_a = ((F.col("da") < F.col("db"))
               | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))))
    oriented = withdeg.select(
        F.when(lower_a, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lower_a, F.col("b")).otherwise(F.col("a")).alias("w"),
        F.when(lower_a, F.col("db")).otherwise(F.col("da")).alias("dw"))
    e1 = oriented.select(F.col("u"), F.col("w").alias("v1"),
                         F.col("dw").alias("d1"))
    e2 = oriented.select(F.col("u"), F.col("w").alias("v2"),
                         F.col("dw").alias("d2"))
    wedges = (e1.join(e2, "u")
              .filter((F.col("d1") < F.col("d2"))
                      | ((F.col("d1") == F.col("d2"))
                         & (F.col("v1") < F.col("v2")))))
    closing = oriented.select(F.col("u").alias("v1"),
                              F.col("w").alias("v2"))
    tri = wedges.join(closing, ["v1", "v2"]).agg(
        F.count("*").alias("n_triangles"))
    counts = und.agg(F.count("*").alias("n_edges"))
    nn = deg.agg(F.count("*").alias("n_nodes"))
    # per-node wedge term cast to long BEFORE the sum: the global count
    # accumulates in exact integer arithmetic (d·(d−1) is even, the /2
    # is exact in double for any realistic degree), same as the oracle
    nw = deg.agg(F.sum((F.col("d") * (F.col("d") - 1) / 2).cast("long"))
                 .alias("n_wedges"))
    out = (F.broadcast(nn).crossJoin(F.broadcast(counts))
           .crossJoin(F.broadcast(nw)).crossJoin(F.broadcast(tri))
           .select("n_nodes", "n_edges", "n_wedges", "n_triangles",
                   F.when(F.col("n_wedges") > 0,
                          F.round(3.0 * F.col("n_triangles")
                                  / F.col("n_wedges"), 4))
                   .alias("clustering")))
    return out


def entity_timeline(linked: DataFrame, turns: DataFrame,
                    ts_col: str = "ts") -> DataFrame:
    """Temporal extent per entity: first/last mention timestamp, active
    span in seconds, mention and conversation counts.

    ``linked`` rows are (conv_id, turn_idx, entity_iri…); ``turns``
    supplies (conv_id, turn_idx, ts).  The join is narrow on both sides
    (the fat text column never enters) and co-keyed with every other
    turn-keyed join in the KG job, so at scale it rides the same
    partitioning.  Span uses integer epoch seconds — exact, identical
    in any engine."""
    slim = turns.select("conv_id", "turn_idx",
                        F.col(ts_col).cast("timestamp").alias("_ts"))
    return (linked.select("conv_id", "turn_idx", "entity_iri")
            .join(slim, ["conv_id", "turn_idx"])
            .groupBy("entity_iri")
            .agg(F.min("_ts").alias("first_seen"),
                 F.max("_ts").alias("last_seen"),
                 F.count("*").alias("n_mentions"),
                 F.countDistinct("conv_id").alias("n_convs"))
            .select("entity_iri", "first_seen", "last_seen",
                    # difference of epochs: any session-tz offset cancels
                    (F.unix_timestamp("last_seen")
                     - F.unix_timestamp("first_seen")).alias("span_s"),
                    "n_mentions", "n_convs"))


def negative_samples(triples: DataFrame, entities: DataFrame,
                     k: int = 2, seed: int = 42,
                     entity_col: str = "entity_iri") -> DataFrame:
    """Corrupted-triple negatives for KG-embedding training (TransE-style
    "replace the object with a random entity"): for each positive
    (origin, rel, target) emit k rows (origin, rel, neg_target, neg_ix)
    where the replacement is a DETERMINISTIC md5-indexed pick from the
    entity vocabulary — reproducible across runs, partitionings, and
    engines (the stratified_sample md5 convention; a SQL oracle replays
    the exact sample).  A negative that collides with the positive
    target is kept (standard practice: filtering would bias the
    corruption distribution; downstream losses mask them).

    Scale: the vocabulary index is dictionary-sized → global
    row_number + BROADCAST join (same size class as the linking
    dictionary, versa_spark/kg/linking.py).  The corpus side is one
    explode (k rows per positive) and one map-side hash — no shuffle
    at all on the big side."""
    from pyspark.sql import Window
    vocab = (entities.select(F.col(entity_col).alias("_ent")).distinct()
             .withColumn("_ix",
                         F.row_number().over(
                             Window.orderBy("_ent")) - 1))
    n_vocab = _scalar_col(vocab, F.count("*"), "_nv")
    h = F.expr(family_hash_sql("md5", (
        "concat_ws(':', origin, rel, target, cast(neg_ix as string), "
        f"{quote_literal(str(seed))})")))
    return (triples
            .select("origin", "rel", "target",
                    F.explode(F.array(*[F.lit(i) for i in range(k)]))
                    .alias("neg_ix"))
            .crossJoin(n_vocab)
            .withColumn("_ix", F.pmod(h, F.col("_nv")).cast("int"))
            .join(F.broadcast(vocab), "_ix")
            .select("origin", "rel", "target", "neg_ix",
                    F.col("_ent").alias("neg_target")))


def conversation_profiles(turns: DataFrame,
                          linked: DataFrame | None = None) -> DataFrame:
    """Per-conversation rollup of the transcript table: turn counts by
    role, tool-call count, total characters, active span in seconds,
    and (when ``linked`` mention rows are supplied) the distinct-entity
    count.

    One groupBy keyed on conv_id (high cardinality, bounded turns per
    conversation — the same key discipline as every other conv-keyed
    stage, so at scale this shares partitioning with the KG job); the
    mention rollup joins in narrow and left so mention-free
    conversations keep a 0."""
    prof = turns.groupBy("conv_id").agg(
        F.count("*").alias("n_turns"),
        F.sum((F.col("role") == "user").cast("long"))
        .alias("n_user_turns"),
        F.sum((F.col("role") == "assistant").cast("long"))
        .alias("n_assistant_turns"),
        F.sum(F.col("tool").isNotNull().cast("long"))
        .alias("n_tool_turns"),
        F.sum(F.length("text").cast("long")).alias("total_chars"),
        (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts")))
        .alias("span_s"))
    if linked is None:
        return prof
    ment = (linked.groupBy("conv_id")
            .agg(F.countDistinct("entity_iri").alias("n_entities")))
    return (prof.join(ment, "conv_id", "left")
            .withColumn("n_entities",
                        F.coalesce("n_entities", F.lit(0))))


def segment_conversations(turns: DataFrame, threshold: float = 0.2,
                          text_col: str = "text") -> DataFrame:
    """Lexical topic segmentation: a new segment starts where the
    token-set Jaccard similarity between a turn and its predecessor
    (within the conversation, in stable turn order) drops below
    *threshold*.  Returns (conv_id, turn_idx, segment_id, prev_jaccard)
    — segment_id 0-based per conversation, prev_jaccard NULL on the
    first turn (rounded 4 dp; the raw similarity drives the boundary).

    Plan shape is the sessionize discipline (events.py): lag + running
    sum are two stacked windows over the SAME (conv_id, turn_idx)
    ordering, so Catalyst plans ONE exchange + one sort for the whole
    operator.  Token sets build in-plan (split/filter/array_distinct —
    JVM expressions); the Jaccard is exact integer-ratio arithmetic, so
    a SQL engine replays the identical boundaries."""
    from pyspark.sql import Window
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    toks = F.array_distinct(F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
        lambda x: x != ""))
    base = turns.withColumn("_toks", toks)
    prev = F.lag("_toks").over(w)
    inter = F.size(F.array_intersect(F.col("_toks"), prev))
    union = F.size("_toks") + F.size(prev) - inter
    jacc = inter.cast("double") / union
    boundary = F.when(prev.isNull() | (union == 0)
                      | (jacc < F.lit(float(threshold))), 1).otherwise(0)
    return (base
            .withColumn("_nb", boundary)
            .withColumn("_pj", F.when(union > 0, F.round(jacc, 4)))
            .withColumn("segment_id",
                        F.sum("_nb").over(
                            w.rowsBetween(Window.unboundedPreceding,
                                          Window.currentRow)) - 1)
            .select("conv_id", "turn_idx", "segment_id",
                    F.col("_pj").alias("prev_jaccard")))


def shortest_paths(edges: DataFrame, landmarks, src: str = "src",
                   dst: str = "dst",
                   max_iterations: int = 30) -> DataFrame:
    """Unweighted single-source BFS distances from each landmark over a
    directed edge list — GraphX/GraphFrames' ``shortestPaths`` analogue
    (landmark labeling: the standard KG reachability/centrality
    primitive).  Returns (node, landmark, dist) for every node that can
    be REACHED FROM a landmark within ``max_iterations`` hops; raises if
    a frontier is still expanding when the budget runs out (silent
    truncation would return wrong distances, the transitive_closure
    contract here).

    Scale shape: the distance table is (reached nodes × landmarks) —
    bounded by landmark count, never all-pairs.  Each round joins the
    CURRENT frontier (newly-settled nodes only, shrinking) with the
    edge list on the src key and anti-joins already-settled (node,
    landmark) pairs; the edge list is persisted once and reused every
    round, and each round's settled/frontier tables are eager local
    checkpoints with the per-round release discipline of
    connected_components — lineage stays O(1), blocks from round k-1
    free at round k+1.  Rounds = graph eccentricity from the landmarks
    (BFS is inherently diameter-bounded; for low-diameter entity
    co-mention graphs that is single digits)."""
    from versa_spark.cacheutil import release_checkpoint
    if not isinstance(landmarks, DataFrame):
        landmarks = list(landmarks)
        if not landmarks:
            raise ValueError("shortest_paths needs at least one landmark")
        spark = edges.sparkSession
        landmarks = spark.createDataFrame(
            [(x,) for x in landmarks], ["landmark"])
    lm = landmarks.select(F.col(landmarks.columns[0]).alias("landmark")) \
                  .distinct()
    e = (edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
         .filter(F.col("_s") != F.col("_d")).distinct().persist())
    try:
        settled = (lm.select(F.col("landmark").alias("node"), "landmark",
                             F.lit(0).alias("dist"))
                   .localCheckpoint(eager=True))
        frontier = settled
        prev = [settled]
        # max_iterations + 1 probes: a graph whose eccentricity EQUALS
        # the budget settles its last node on round max_iterations and
        # only the one-past-the-end probe can observe the empty frontier
        # — raising without that probe would spuriously fail the exact-
        # budget case (round-5 review finding)
        for it in range(1, int(max_iterations) + 2):
            nxt = (frontier
                   .join(e, frontier["node"] == e["_s"])
                   .select(F.col("_d").alias("node"), "landmark",
                           (F.col("dist") + 1).alias("dist"))
                   .groupBy("node", "landmark")
                   .agg(F.min("dist").alias("dist"))
                   .join(settled, ["node", "landmark"], "left_anti")
                   .localCheckpoint(eager=True))
            if nxt.isEmpty():
                release_checkpoint(nxt)
                break
            if it > int(max_iterations):
                raise RuntimeError(
                    f"shortest_paths still expanding after "
                    f"{max_iterations} rounds; raise max_iterations "
                    f"(graph eccentricity exceeds the budget)")
            settled = settled.unionByName(nxt).localCheckpoint(eager=True)
            frontier = nxt
            # blocks from two rounds back are no longer referenced by
            # any live plan (settled/frontier are fresh checkpoints)
            for old in prev:
                release_checkpoint(old)
            prev = [nxt, settled]
        return settled
    finally:
        e.unpersist()


def k_core(edges: DataFrame, k: int = 2, src: str = "src",
           dst: str = "dst", max_iterations: int = 100) -> DataFrame:
    """Nodes of the k-core of the UNDIRECTED graph: the maximal subgraph
    in which every node has degree ≥ k — the standard cohesion filter
    before community/embedding work (peels noise entities off the
    co-mention graph).

    Iterative peeling: drop every node with current degree < k, remove
    its edges, repeat to fixpoint.  Each round is one degree aggregate
    (map-side partial agg on the node key) + two anti-joins; the edge
    set only shrinks, every round's survivor edge table is an eager
    localCheckpoint (O(1) lineage), and blocks from the previous round
    are released immediately (the connected_components discipline).
    Rounds are bounded by the longest peeling chain; the budget guard
    raises rather than returning a not-yet-maximal subgraph."""
    from versa_spark.cacheutil import release_checkpoint
    und = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
           .filter(F.col("a") != F.col("b")))
    e = (und.unionByName(und.select(F.col("b").alias("a"),
                                    F.col("a").alias("b")))
         .distinct()
         .localCheckpoint(eager=True))
    # max_iterations + 1 probes: a peel chain of exactly max_iterations
    # rounds reaches its fixpoint on the last round and only the
    # one-past-the-end degree check can observe it (round-5 review
    # finding — mirror of the shortest_paths boundary)
    for it in range(1, int(max_iterations) + 2):
        deg = e.groupBy("a").agg(F.count("*").alias("_deg"))
        weak = deg.filter(F.col("_deg") < k).select("a")
        if weak.isEmpty():
            return e.select(F.col("a").alias("node")).distinct()
        if it > int(max_iterations):
            raise RuntimeError(
                f"k_core still peeling after {max_iterations} rounds; "
                f"raise max_iterations")
        nxt = (e.join(weak, "a", "left_anti")
               .join(weak.select(F.col("a").alias("b")), "b",
                     "left_anti")
               .localCheckpoint(eager=True))
        release_checkpoint(e)
        e = nxt
        if e.isEmpty():
            return e.select(F.col("a").alias("node"))
    raise AssertionError("unreachable")
