"""Salted-key canonicalization: hot-entity-proof aggregation.

The north rule names "groupBy canonicalization over salted keys" for
hot-entity skew: canonical entities like the 'spark' concept appear in a
large fraction of turns, so a naive groupBy(entity) sends one partition
a disproportionate share.  The classic fix is two-phase aggregation over a
salted key:

    phase 1 (partial):  groupBy(entity, salt = pmod(xxhash64(row-key), S))
    phase 2 (final):    groupBy(entity) over the ≤S partial rows per entity

For algebraic aggregates (count, sum, min/max, collect_set-union) phase 2
is exact.  Note Spark's own hash aggregate already does map-side partial
aggregation for count/sum — explicit salting matters for the non-algebraic
paths (collect_list of big payloads, exact distinct per key) and for
pathological key distributions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


# S above: the phase-1 groups per entity
_SALT = 16


def entity_mention_counts(linked_mentions: DataFrame) -> DataFrame:
    """(entity_iri, canonical) → n_mentions n_convs, skew-safe.

    distinct-conversation counting is the non-algebraic part: phase 1
    collects per-salt distinct conv sets, phase 2 unions them — each
    reducer sees at most ``_SALT`` rows per entity instead of every
    mention.  Both counts are long."""
    phase1 = (linked_mentions
              .withColumn("_salt",
                          F.pmod(F.xxhash64("conv_id", "turn_idx"),
                                 F.lit(_SALT)))
              .groupBy("entity_iri", "canonical", "_salt")
              .agg(F.count("*").alias("_n"),
                   F.collect_set("conv_id").alias("_convs")))
    return (phase1
            .groupBy("entity_iri", "canonical")
            .agg(F.sum("_n").alias("n_mentions"),
                 F.size(F.array_distinct(
                     F.flatten(F.collect_list("_convs")))).alias("n_convs"))
            .withColumn("n_mentions", F.col("n_mentions").cast("long"))
            # F.size yields int: long keeps appended epochs and their
            # re-aggregation one type
            .withColumn("n_convs", F.col("n_convs").cast("long")))


def entity_links(ents: DataFrame,
                 exclude: DataFrame | None = None) -> DataFrame:
    """Canonical entity resource links: one type link and one label link
    per distinct ``entity_iri`` of ``ents`` — (entity_iri, canonical)
    rows such as linked mentions or ``entity_stats`` — labelled
    ``min(canonical)``, so an IRI with two canonical names still gets
    one label (the labelize stage of the pipeline, main.py:404-433, in
    bulk).

    ``exclude``: optional (entity_iri) frame of entities whose links were
    already emitted — incremental appends (KGJob.append_batch) pass the
    earlier epochs' ``entity_stats`` so an entity seen in both base and
    batch doesn't get its type/label links twice in the combined view
    (it keeps the label of the epoch that first linked it).  The
    anti-join rides the label's aggregation (``max(_seen)``): one
    exchange, bounded by the linking dictionary, not the corpus."""
    e = ents.select("entity_iri", "canonical", F.lit(False).alias("_seen"))
    if exclude is not None:
        e = e.unionByName(exclude.select(
            "entity_iri", F.lit(None).cast("string").alias("canonical"),
            F.lit(True).alias("_seen")))
    return _entity_type_label_links(
        e.groupBy("entity_iri")
         .agg(F.min("canonical").alias("canonical"),
              F.max("_seen").alias("_seen"))
         .filter(~F.col("_seen")))


def _entity_type_label_links(ents: DataFrame) -> DataFrame:
    from versa_spark import VLABEL_REL, VTYPE_REL
    from versa_spark.kg.extract import TYPE_CONCEPT
    return ents.selectExpr(
        f"explode(array("
        f"struct(entity_iri AS origin, '{VTYPE_REL}' AS rel,"
        f" '{TYPE_CONCEPT}' AS target, true AS t_iri),"
        f"struct(entity_iri AS origin, '{VLABEL_REL}' AS rel,"
        f" canonical AS target, false AS t_iri))) AS l"
    ).select("l.*")


def mention_links(linked_mentions: DataFrame) -> DataFrame:
    """(turn_iri, v:mentions, entity_iri) edges.

    This dedup is the triple-build's dominant shuffle, so it runs over the
    NARROW natural key (conv_id, turn_idx, entity_iri) — the ~42-byte turn
    IRI and the constant rel are reconstructed map-side AFTER the
    exchange (turn_iri is a pure function of conv_id/turn_idx, see
    transcripts.ordered_turns), cutting shuffle bytes roughly in half.
    Identical output to deduping the built strings PROVIDED conv_id
    contains no '/' — a conv_id with a slash could make two distinct
    (conv_id, turn_idx) pairs concatenate to the same turn IRI, which the
    string-keyed dedup would collapse and this one would not.  That is an
    input contract, not a runtime check: the north-rule transcript schema
    generates conv ids ('conv-N' in every source here), and an ingest
    layer feeding foreign ids must sanitize them into the IRI-safe space
    first (the same requirement any IRI-template system has)."""
    from versa_spark.kg.extract import REL_MENTIONS
    from versa_spark.kg.transcripts import TURN_IRI_PREFIX
    uniq = (linked_mentions
            .select("conv_id", "turn_idx", "entity_iri")
            .dropDuplicates(["conv_id", "turn_idx", "entity_iri"]))
    return uniq.select(
        F.concat(F.lit(TURN_IRI_PREFIX), F.col("conv_id"), F.lit("/"),
                 F.col("turn_idx").cast("string")).alias("origin"),
        F.lit(REL_MENTIONS).alias("rel"),
        F.col("entity_iri").alias("target"),
        F.lit(True).alias("t_iri"))


def mention_links_from_eids(turn_eids: DataFrame) -> DataFrame:
    """Zero-exchange mention links from extract.turn_entity_ids output:
    within-turn alias dedup already happened in-plan (array_distinct over
    canonical indices) and (conv_id, turn_idx) uniquely keys rows, so the
    exploded (turn_iri, v:mentions, entity_iri) rows are globally unique
    by construction — NO shuffle, the dominant exchange of the triple
    build eliminated outright.  Output-identical to
    ``mention_links(lexicon_linked_mentions(...))`` (asserted in tests +
    the reference-parity suite)."""
    from versa_spark.kg.extract import REL_MENTIONS, canonical_iri_sql
    from versa_spark.kg.transcripts import TURN_IRI_PREFIX
    return (turn_eids
            .selectExpr("conv_id", "turn_idx", "explode(eids) AS _e")
            .selectExpr(
                f"concat('{TURN_IRI_PREFIX}', conv_id, '/',"
                f" cast(turn_idx as string)) AS origin",
                f"'{REL_MENTIONS}' AS rel",
                f"{canonical_iri_sql('_e')} AS target",
                "true AS t_iri"))


def entity_links_from_eids(turn_eids: DataFrame) -> DataFrame:
    """Entity type/label links via the compact index: the corpus-wide
    distinct runs over ONE-BYTE keys (≤ |lexicon| rows out), and the IRI/
    label strings are reconstructed from literal arrays after the
    exchange."""
    from versa_spark.kg.extract import canonical_iri_sql, canonical_name_sql
    ents = (turn_eids.selectExpr("explode(eids) AS _e").distinct()
            .selectExpr(f"{canonical_iri_sql('_e')} AS entity_iri",
                        f"{canonical_name_sql('_e')} AS canonical"))
    return _entity_type_label_links(ents)


def adjacency_edges(links: DataFrame) -> DataFrame:
    """IRI→IRI edge list (src, rel, dst) — the adjacency output the north
    rule requires alongside the graph table.  Filter keeps only resource
    links (t_iri), i.e. real graph edges."""
    return (links.filter(F.col("t_iri"))
            .select(F.col("origin").alias("src"), "rel",
                    F.col("target").alias("dst")))
