"""Entity linking + canonical IDs.

The Spark-scale restatement of the reference's ``lookup`` action — its own
entity-linking primitive (other_actions.py:366-404): mention surfaces are
joined against a **broadcast** canonical dictionary (alias → canonical
entity), misses fall back to a deterministic fingerprint ID computed by
the vectorized mmh3 kernel (kg.ids_vec), exactly the Versa resource-ID
convention (pipeline/main.py:93-132).

Join strategy: the dictionary is small (thousands–millions of aliases),
so it is always hinted ``F.broadcast``; a gazetteer too large to
broadcast goes through extract.turn_mentions_bigdict, which counts its
dictionary and leaves a large one to AQE.  Skew note: hot surfaces
("spark") are *fine* in a broadcast map-side join — no shuffle of the
mention table by surface ever happens.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from versa_spark import VTYPE_REL
from versa_spark.kg.extract import ENT, LEXICON, TYPE_CONCEPT


def canonical_dictionary(spark: SparkSession) -> DataFrame:
    """(surface, canonical, entity_iri) rows; entity IRI derives from the
    canonical name (SQL-expressible — the mmh3 IDs are reserved for
    unlinked entities)."""
    rows = [(s, c, ENT + c) for s, c in sorted(LEXICON.items())]
    return spark.createDataFrame(
        rows, "surface string, canonical string, entity_iri string")


def fingerprint_plaintext_col(etype, name_rel, name_col):
    """Column expression building the exact canonical-JSON fingerprint
    plaintext of the Versa hash convention (main.py:117-127):
    sorted [[k, v]…] pairs incl. the type pair, compact separators.

    JVM-side string ops; JSON escaping covers backslash + quote.  This
    column is only used for printable-ASCII surfaces — link_entities
    detects non-ASCII/control characters (where Python's json.dumps would
    \\uXXXX-escape) and routes those rows through the pandas UDF, which
    builds the plaintext with json.dumps itself, so IDs converge with the
    LocalModel/reference path for every surface."""
    # NB Java replacement semantics: '\\\\' → one literal backslash, so the
    # quote replacement needs \\\\ + " to produce the two chars \"
    esc = F.regexp_replace(
        F.regexp_replace(name_col, r"\\", r"\\\\"), '"', r'\\"')
    type_pair = f'["{VTYPE_REL}","{etype}"]'
    name_pair = F.concat(F.lit(f'["{name_rel}","'), esc, F.lit('"]'))
    # canonical order = lexicographic sort of the two pairs
    first_is_name = F.lit(str(name_rel)) < F.lit(str(VTYPE_REL))
    return F.concat(
        F.lit("["),
        F.when(first_is_name, F.concat(name_pair, F.lit(","),
                                       F.lit(type_pair)))
         .otherwise(F.concat(F.lit(type_pair), F.lit(","), name_pair)),
        F.lit("]"))


# printable ASCII only — anything else needs json.dumps' \uXXXX escaping,
# which the JVM column expression does not reproduce
_ASCII_SAFE = r"^[\x20-\x7e]*$"


def resource_id_fallback_udf(etype: str, name_rel: str):
    """pandas UDF over (plaintext, surface): where plaintext is null but a
    surface is present, the canonical-JSON plaintext is built Python-side
    (json.dumps, ensure_ascii — identical to ids.fingerprint_plaintext /
    the reference pipeline/main.py:117-127), then everything is hashed by
    the vectorized mmh3 kernel.  Used for surfaces containing non-ASCII or
    control characters."""
    from pyspark.sql.types import StringType
    type_rel = str(VTYPE_REL)
    etype, name_rel = str(etype), str(name_rel)

    @F.pandas_udf(StringType())
    def _rid(plaintexts, surfaces):
        import json
        from versa_spark.kg.ids_vec import resource_id_series
        need = plaintexts.isna() & surfaces.notna()
        if need.any():
            plaintexts = plaintexts.copy()
            plaintexts[need] = [
                json.dumps(sorted([[name_rel, s], [type_rel, etype]]),
                           separators=(",", ":"))
                for s in surfaces[need]]
        return resource_id_series(plaintexts)
    return _rid


def _unlinked_fallback_cols(ent_col: str, canon_col: str):
    """The three output columns every linker shares: ``linked``,
    ``canonical`` (surface fallback), ``entity_iri`` (dictionary hit, or
    the deterministic fingerprint ID under entity/unlinked/).  Only
    misses pay the hash UDF's *compute* (null inputs short-circuit inside
    the kernel); every row still crosses the Arrow boundary because
    Catalyst lifts the UDF into an unconditional ArrowEvalPython node.

    Round-7 note (measured, kept as-is): a hit/miss split-union variant
    (UDF only on the miss branch — zero Arrow rows for an all-hits
    corpus) was built and ABBA'd on the kg_mentions derivation at sf0.1:
    0.88 s (this form) vs 1.16 s (split).  The split references the
    joined frame twice, so the whole upstream extraction DAG executes
    once per branch — and re-scanning the corpus costs more than
    shipping two thin mostly-null columns through Arrow.  The same
    trade holds at scale whenever upstream is a fresh corpus scan;
    callers that already hold a materialized mention table and expect
    heavy miss rates can still pre-split manually.  Non-ASCII surfaces
    route through the UDF's json.dumps path so the \\uXXXX escaping
    matches the reference byte-for-byte."""
    ascii_safe = F.col("surface").rlike(_ASCII_SAFE)
    miss = F.col(ent_col).isNull()
    plaintext = F.when(
        miss & ascii_safe,
        fingerprint_plaintext_col(TYPE_CONCEPT, ENT + "name",
                                  F.col("surface")))
    raw_surface = F.when(miss & ~ascii_safe, F.col("surface"))
    rid = resource_id_fallback_udf(TYPE_CONCEPT, ENT + "name")
    return [
        F.col(ent_col).isNotNull().alias("linked"),
        F.coalesce(F.col(canon_col), F.col("surface")).alias("canonical"),
        F.coalesce(
            F.col(ent_col),
            F.concat(F.lit(ENT + "unlinked/"), rid(plaintext, raw_surface))
        ).alias("entity_iri"),
    ]


def link_entities_scored(mentions: DataFrame, dictionary: DataFrame,
                         min_score: float = 0.5) -> DataFrame:
    """Candidate-scoring entity linking (the north star's 'scores
    candidates against a broadcast canonical-ID dictionary').

    Candidate generation = three broadcast joins on progressively looser
    keys; each candidate carries a match score:

        exact surface            → 1.0
        case/space-normalized    → 0.9
        plural/inflection stem   → 0.7

    The best candidate per mention wins (window rank over the mention id,
    score desc, canonical asc for determinism); mentions scoring below
    *min_score* fall back to deterministic fingerprint IDs.  All joins are
    map-side (dictionary broadcast); the only shuffle is the per-mention
    window, partitioned by the mention key (no hot keys — mention ids are
    unique)."""
    from pyspark.sql import Window

    norm = F.regexp_replace(F.lower(F.trim(F.col("surface"))), r"\s+", " ")
    stem = F.regexp_replace(norm, r"(es|s)$", "")
    # the mention id must be STABLE across plan branches: this frame
    # feeds three candidate joins plus the final join-back, and each
    # branch re-evaluates it — monotonically_increasing_id depends on
    # partition layout and shuffle fetch order, so a retry or AQE
    # re-plan could give the same row different ids per branch and
    # mislink.  A deterministic row hash is branch-invariant; duplicate
    # mention rows share an id and therefore (correctly) share the same
    # best candidate.  (Requires hashable column types — no map
    # columns — which every mention frame here satisfies.)
    # The id is 128-bit (two independently-seeded xxhash64 halves): a
    # single 64-bit key silently merges colliding mention rows — one of
    # them inherits the other's best candidate — and at the 10^12-mention
    # target birthday collisions are expected (~n²/2⁶⁵); at 2⁻¹²⁸ they
    # are not.
    cols = [F.col(c) for c in mentions.columns]
    m = (mentions
         .withColumn("_mid", F.xxhash64(*cols))
         .withColumn("_mid2", F.xxhash64(F.lit("versa-mid2"), *cols))
         .withColumn("_norm", norm)
         .withColumn("_stem", stem))

    d = dictionary
    d_norm = F.regexp_replace(F.lower(F.trim(F.col("surface"))),
                              r"\s+", " ")
    d_stem = F.regexp_replace(d_norm, r"(es|s)$", "")
    dict_keys = F.broadcast(d.select(
        F.col("surface").alias("_k_exact"),
        d_norm.alias("_k_norm"), d_stem.alias("_k_stem"),
        "canonical", "entity_iri"))

    def _cand(key_col, dict_key, score):
        return (m.join(dict_keys, F.col(key_col) == F.col(dict_key))
                .select("_mid", "_mid2", "canonical", "entity_iri",
                        F.lit(score).alias("score")))

    cands = (_cand("surface", "_k_exact", 1.0)
             .unionByName(_cand("_norm", "_k_norm", 0.9))
             .unionByName(_cand("_stem", "_k_stem", 0.7))
             .filter(F.col("score") >= min_score))
    w = Window.partitionBy("_mid", "_mid2").orderBy(
        F.col("score").desc(), F.col("canonical"), F.col("entity_iri"))
    best = (cands.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .select("_mid", "_mid2", F.col("canonical").alias("_c"),
                    F.col("entity_iri").alias("_e"), "score"))

    out = m.join(best, ["_mid", "_mid2"], "left")
    linked_col, canon_col, ent_col = _unlinked_fallback_cols("_e", "_c")
    return out.select(
        *mentions.columns, linked_col,
        F.coalesce(F.col("score"), F.lit(0.0)).alias("link_score"),
        canon_col, ent_col)


def resolve_aliases(mentions: DataFrame, surface_col: str = "surface",
                    acronyms: bool = True,
                    max_iters: int = 25) -> DataFrame:
    """Unsupervised alias resolution: induce a canonical dictionary from
    the corpus itself by clustering mention surfaces that are variants
    of one another — no curated gazetteer required (the reference's
    resource-merge workflow, util.py:162-191 + pipeline lookup, done
    corpus-wide instead of rule-by-rule).

    Surfaces sharing any normalization key merge transitively:

        norm     lowercase, trimmed, whitespace collapsed, punctuation
                 stripped ("  Apache–Spark " → "apache spark")
        stem     norm with a plural/inflection suffix dropped
                 ("sparks" → "spark")
        acronym  initials of multiword norms ("united nations" → "un");
                 lives in the SAME key space as norm, so the surface
                 "UN" (norm "un") joins the "United Nations" cluster.
                 ``acronyms=False`` disables this key — acronym linking
                 inherently risks short-word false merges ("in" ==
                 acronym of "intelligent networks").

    Scale shape: every aggregate runs over the DISTINCT-SURFACE
    vocabulary (≪ corpus — the groupBy is the only pass over mention
    rows); clustering is connected components over the bipartite
    surface↔key graph (vocabulary-sized, O(log n) rounds via the
    hooking + pointer-doubling kernel shared with dedup); the result is
    a (surface, canonical, entity_iri) frame that drops into
    :func:`link_entities` / ``build_graph(dictionary=…)`` as a
    broadcastable dictionary.

    Canonical per cluster = the most frequent surface (ties: shortest
    raw surface, then lexicographically smallest raw surface —
    deterministic under any partitioning; r07 advice fix aligned this
    doc with the implemented window order, which ranks by
    ``length(surface), surface``, not by the normalized key).
    Returns (surface, canonical, entity_iri,
    n_mentions, cluster_size)."""
    from versa_spark.dedup import connected_components

    surf = (mentions.groupBy(F.col(surface_col).alias("surface"))
            .agg(F.count("*").alias("n_mentions")))
    norm = F.trim(F.regexp_replace(
        F.regexp_replace(F.lower(F.col("surface")),
                         r"[^\p{L}\p{Nd}]+", " "),
        r"\s+", " "))
    stem = F.regexp_replace(norm, r"(es|s)$", "")
    acro = F.when(
        F.size(F.split(norm, " ")) >= 2,
        F.array_join(F.transform(F.split(norm, " "),
                                 lambda w: F.substring(w, 1, 1)), ""))
    keys = [norm, stem] + ([acro] if acronyms else [])
    keyed = surf.select(
        "surface", "n_mentions",
        F.array_distinct(F.filter(
            F.array(*keys),
            lambda k: k.isNotNull() & (F.length(k) >= 2))).alias("_keys"))
    # bipartite edges "s:"+surface ↔ "k:"+key; BOTH sides are prefixed
    # into disjoint namespaces — prefixing only the key side would
    # still collide with a surface that literally starts with "k:"
    edges = keyed.select(
        F.concat(F.lit("s:"), F.col("surface")).alias("a"),
        F.explode(F.transform(
            "_keys", lambda k: F.concat(F.lit("k:"), k))).alias("b"))
    labels = (connected_components(edges, max_iters=max_iters)
              .withColumn("surface",
                          F.expr("substring(doc_id, 3)"))
              .filter(F.col("doc_id").startswith("s:"))
              .drop("doc_id"))
    comp = (keyed.join(labels, "surface", "left")
            # a surface with no usable key (e.g. length-1 norm) is its
            # own singleton cluster
            .withColumn("component",
                        F.coalesce(F.col("component"),
                                   F.concat(F.lit("s:"), F.col("surface")))))
    from pyspark.sql import Window
    w = Window.partitionBy("component").orderBy(
        F.col("n_mentions").desc(), F.length("surface"), F.col("surface"))
    best = (comp.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .select("component", F.col("surface").alias("canonical")))
    stats = comp.groupBy("component").agg(
        F.count("*").alias("cluster_size"))
    return (comp.join(best, "component").join(stats, "component")
            .select("surface",
                    "canonical",
                    F.concat(F.lit(ENT), F.col("canonical"))
                    .alias("entity_iri"),
                    "n_mentions", "cluster_size"))


# surface_universe literal-map bound: same discipline as
# simsearch._LITERAL_BUDGET — past this the plan-time map stops being
# "a handful of literals" and a caller should fall back to the UDF path
# (or broadcast-join a precomputed fallback table themselves)
_UNIVERSE_BUDGET = 4096


def fallback_iri_map(surfaces) -> dict[str, str]:
    """surface → the exact entity/unlinked/<id> IRI the fallback UDF
    would emit for a dictionary miss, computed driver-side.  Shares the
    UDF's own plaintext construction (json.dumps, ensure_ascii — covers
    non-ASCII surfaces with the same \\uXXXX escaping) and the same
    vectorized mmh3 kernel, so IDs are byte-identical by construction."""
    import json

    import pandas as pd

    from versa_spark.kg.ids_vec import resource_id_series
    surfaces = list(surfaces)
    if not surfaces:
        return {}
    type_rel, etype, name_rel = str(VTYPE_REL), TYPE_CONCEPT, ENT + "name"
    plaintexts = pd.Series([
        json.dumps(sorted([[name_rel, s], [type_rel, etype]]),
                   separators=(",", ":"))
        for s in surfaces])
    ids = resource_id_series(plaintexts)
    return {s: ENT + "unlinked/" + i for s, i in zip(surfaces, ids)}


def link_entities(mentions: DataFrame, dictionary: DataFrame,
                  surface_universe=None) -> DataFrame:
    """mentions (…, surface) ⋈ dictionary → adds ``entity_iri``,
    ``canonical``, ``linked`` (False = dictionary miss → deterministic
    fingerprint ID under entity/unlinked/).

    ``surface_universe`` (optional, round-7): an iterable of every
    surface the mention producer can possibly emit — available whenever
    detection is pattern-bound (``turn_mentions``'s universe IS the
    lexicon's key set).  With it, the dictionary-miss fallback IDs are
    precomputed driver-side (``fallback_iri_map``, the identical mmh3
    kernel) and fused into the plan as a literal map, so the linker is
    ONE broadcast join with zero Python anywhere — the ArrowEvalPython
    node that otherwise ships every (plaintext, surface) batch to a
    worker disappears (guide §4), without the rejected hit/miss-split's
    double corpus scan (see _unlinked_fallback_cols).  Caller contract:
    surfaces outside both the universe and the dictionary yield NULL
    entity_iri instead of a fingerprint ID — only pass a universe that
    is actually exhaustive.  Bounded by _UNIVERSE_BUDGET literals."""
    out = mentions.join(F.broadcast(dictionary), "surface", "left")
    if surface_universe is not None:
        fmap = fallback_iri_map(sorted(set(surface_universe)))
        if len(fmap) > _UNIVERSE_BUDGET:
            raise ValueError(
                f"surface_universe has {len(fmap)} surfaces — past the "
                f"{_UNIVERSE_BUDGET}-literal budget; use the UDF path")
        cols = [F.col("entity_iri").isNotNull().alias("linked"),
                F.coalesce(F.col("canonical"), F.col("surface"))
                 .alias("canonical")]
        if fmap:
            lit_map = F.create_map(*[F.lit(x)
                                     for s, iri in sorted(fmap.items())
                                     for x in (s, iri)])
            cols.append(F.coalesce(F.col("entity_iri"),
                                   F.element_at(lit_map, F.col("surface")))
                        .alias("entity_iri"))
        else:
            cols.append(F.col("entity_iri"))
        return out.select(*mentions.columns, *cols)
    return out.select(*mentions.columns,
                      *_unlinked_fallback_cols("entity_iri", "canonical"))
