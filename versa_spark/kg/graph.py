"""Shared graph assembly: turns → linked mentions → triple table.

Two linking paths, same output (parity-asserted in tests):

* default (``dictionary=None``): the extraction lexicon IS the linking
  dictionary, so surface→canonical is a pure function of the mention
  index known at plan time — linking fuses into the plan as a literal
  map (extract.turn_entity_ids) and the mention-link family needs **no
  exchange at all** (round 2 shrank the dedup shuffle to a narrow key;
  round 3 eliminates it: per-turn alias dedup happens in-plan before the
  explode, and (conv_id, turn_idx) uniquely keys turns).
* explicit ``dictionary``: the generic broadcast-join linking
  (kg.linking.link_entities) for arbitrary/foreign dictionaries, with
  the narrow-key dedup exchange (canonicalize.mention_links).

The union of link families consumes the extracted frame three times;
without materialization Spark re-executes the regex mention scan once
per branch, so ``build_graph`` persists ONE slim frame (turn metadata +
1-byte entity indices, MEMORY_AND_DISK) for the duration of the action —
the in-session equivalent of the KGJob's per-stage Parquet checkpoints.
The fat ``text`` column is consumed exactly once (by the mention scan)
and NEVER persisted or shuffled — at 10^12 turns the text column IS the
table; caching it would evict everything else.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from versa_spark.kg import canonicalize, extract, linking


def build_graph(spark: SparkSession, turns: DataFrame,
                dictionary: DataFrame | None = None,
                detect: str = "lexicon",
                relations: tuple[str, ...] | None = None,
                ) -> dict[str, DataFrame]:
    """ordered turns → {turns, linked, graph, edges} DataFrames.

    ``turns`` may or may not carry ``turn_rank``; no link family consumes
    it, so it is dropped here and Catalyst prunes the rank window out of
    the triple-build plan entirely (the ranked view stays available via
    ordered_turns / turn_order where rank IS consumed).  The returned
    ``turns`` frame (the persisted slim frame) also omits
    ``turn_iri`` and ``ts``: the IRI is a pure function of
    (conv_id, turn_idx) that consumers re-derive in-plan, and no link
    family reads the timestamp — both were pure cache weight.

    Multiplicity caveat on ``linked``: the default (built-in lexicon)
    path derives it from per-turn DISTINCT entity ids (``eids`` holds
    ``array_distinct`` output), so a surface form mentioned twice in one
    turn yields ONE row; the generic-``dictionary`` path emits one row
    per surface mention.  Graph triples are identical either way
    (``mention_links`` dedups before counting) — only consumers counting
    raw ``linked`` rows see the difference, and they should prefer the
    generic path or ``extract.turn_mentions`` for per-mention rows.

    ``detect`` picks the DETECTION surface set (independent of linking):

    * ``'lexicon'`` (default): the compiled-regex LEXICON scan — mention
      candidates are always the built-in surfaces; an explicit
      ``dictionary`` only affects how they link (misses fall back to
      fingerprint IDs).  The right path when the lexicon IS the
      vocabulary.
    * ``'dictionary'``: detection joins token n-grams against
      ``dictionary`` itself (extract.turn_mentions_bigdict) — the
      10^5+-surface gazetteer path where a regex alternation stops
      compiling.  Detection and linking fuse into one map-side join, so
      every mention is a dictionary hit by construction (no unlinked-
      fallback entities; surfaces outside the dictionary are simply not
      mentions).  Requires ``dictionary`` with (surface, canonical,
      entity_iri)."""
    if detect not in ("lexicon", "dictionary"):
        raise ValueError(f"unknown detect {detect!r} "
                         "(use 'lexicon' or 'dictionary')")
    if detect == "dictionary" and dictionary is None:
        raise ValueError("detect='dictionary' requires a dictionary")
    if dictionary is not None:
        # the graph link families consume only these four columns — keeping
        # the cached rows narrow is what lets the persist fit at bench scale
        linked = (linked_mentions(turns, dictionary, detect)
                  .select("conv_id", "turn_idx", "canonical", "entity_iri")
                  .persist())
        turns_slim = turns.drop("text", "turn_rank", "turn_iri",
                                "ts").persist()
        graph = (extract.conversation_links(turns_slim)
                 .unionByName(canonicalize.mention_links(linked))
                 .unionByName(canonicalize.entity_links(linked)))
        return _with_relations(
            {"turns": turns_slim, "linked": linked, "graph": graph,
             "edges": canonicalize.adjacency_edges(graph)}, turns, relations)
    # the persisted slim frame also drops ``turn_iri`` (a ~50-byte
    # string that is a pure function of (conv_id, turn_idx) —
    # conversation_links re-derives it above the cache, and
    # mention_links_from_eids always built its own) and ``ts`` (no link
    # family consumes it; for the synthetic source, dropping it before
    # extraction prunes the timestamp expressions out of the plan
    # entirely).  Cache bytes per row drop by more than half, which both
    # speeds the persist and shrinks the per-lap memory churn the bench
    # host punishes (OPTIMIZATION_r07.md §6).
    te = extract.turn_entity_ids(
        turns.drop("turn_rank", "turn_iri", "ts")).persist()
    graph = (extract.conversation_links(te.drop("eids"))
             .unionByName(canonicalize.mention_links_from_eids(te))
             .unionByName(canonicalize.entity_links_from_eids(te)))
    # compatibility view of the linked-mention rows (same 4-col shape the
    # generic path caches); derives lazily from the persisted slim frame
    linked = (te.selectExpr("conv_id", "turn_idx", "explode(eids) AS _e")
              .selectExpr("conv_id", "turn_idx",
                          extract.canonical_name_sql("_e") + " AS canonical",
                          extract.canonical_iri_sql("_e") + " AS entity_iri"))
    parts = {"turns": te, "linked": linked, "graph": graph,
             "edges": canonicalize.adjacency_edges(graph)}
    return _with_relations(parts, turns, relations)


def _with_relations(parts: dict[str, DataFrame], turns: DataFrame,
                    relations: tuple[str, ...] | None,
                    ) -> dict[str, DataFrame]:
    """Opt-in verb-linked relation triples (extract.relation_links)
    unioned into the graph/edges outputs.  Costs one more columnar scan
    of the turns table (the extraction is in-row + one explode, no
    shuffle beyond the narrow triple dedup); the connector surfaces are
    always the built-in LEXICON regardless of the detect path —
    relations between dictionary-only entities would need the
    position-complete bigdict kernel, deliberately out of scope."""
    if not relations:
        return parts
    rl = extract.relation_links(turns, verbs=tuple(relations))
    graph = parts["graph"].unionByName(rl)
    return {**parts, "graph": graph,
            "edges": canonicalize.adjacency_edges(graph)}


def linked_mentions(turns: DataFrame, dictionary: DataFrame | None,
                    detect: str) -> DataFrame:
    """Mention rows with (canonical, entity_iri) and, under
    detect='lexicon', ``linked``: ONE fused detection+linking join for
    ``detect='dictionary'``; else the lexicon scan, linked through the
    lexicon's literal map or, given a dictionary, link_entities."""
    if detect == "dictionary":
        return extract.turn_mentions_bigdict(turns, dictionary)
    if dictionary is None:
        return extract.lexicon_linked_mentions(turns)
    # turn_mentions can only emit lexicon surfaces whatever the linking
    # dictionary is, so the miss fallback precomputes driver-side and
    # the plan carries no Python node (linking.link_entities
    # surface_universe)
    return linking.link_entities(extract.turn_mentions(turns), dictionary,
                                 surface_universe=extract.LEXICON)
