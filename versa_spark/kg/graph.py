"""Shared graph assembly: turns → linked mentions → triple table.

``build_graph`` is the in-session, zero-exchange build over the built-in
lexicon: the extraction lexicon IS the linking dictionary, so
surface→canonical is a pure function of the mention index known at plan
time — linking fuses into the plan as a literal map
(extract.turn_entity_ids) and the mention-link family needs **no exchange
at all** (round 2 shrank the dedup shuffle to a narrow key; round 3
eliminates it: per-turn alias dedup happens in-plan before the explode,
and (conv_id, turn_idx) uniquely keys turns).  Custom-dictionary linking,
gazetteer detection (``detect='dictionary'``) and relation triples are
``KGJob``'s (kg.job), whose mentions stage is :func:`mention_linker`'s.

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

from versa_spark.kg import canonicalize, extract


def build_graph(spark: SparkSession,
                turns: DataFrame) -> dict[str, DataFrame]:
    """ordered turns → {turns, graph, edges} DataFrames.

    ``turns`` may or may not carry ``turn_rank``; no link family consumes
    it, so it is dropped here and Catalyst prunes the rank window out of
    the triple-build plan entirely (the ranked view stays available via
    ordered_turns / turn_order where rank IS consumed).  The returned
    ``turns`` frame (the persisted slim frame) also omits
    ``turn_iri`` and ``ts``: the IRI is a pure function of
    (conv_id, turn_idx) that consumers re-derive in-plan, and no link
    family reads the timestamp — both were pure cache weight."""
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
    return {"turns": te, "graph": graph,
            "edges": canonicalize.adjacency_edges(graph)}


def mention_linker(dictionary: DataFrame | None, detect: str):
    """turns → mention rows with (canonical, entity_iri) and, under
    detect='lexicon', ``linked``, as a function: ONE fused
    detection+linking join for ``detect='dictionary'``
    (extract.bigdict_linker); else the lexicon scan linked through one
    literal map (extract.lexicon_linker).  Both resolve the dictionary
    now, so a bad one raises before the function is returned."""
    if detect == "dictionary":
        return extract.bigdict_linker(dictionary)
    return extract.lexicon_linker(dictionary)
