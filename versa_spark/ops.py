"""The match family and model utilities as DataFrame operations.

Each function mirrors a reference operator (file:line cited per function)
but is expressed declaratively so Catalyst gets predicate pushdown, column
pruning and join planning for free (the reference's only "optimizations" —
sqlite WHERE compilation, lmdb origin seeks — are subsumed; SURVEY.md §4).
"""

from __future__ import annotations

from typing import Iterable, Mapping

from pyspark.sql import DataFrame, functions as F

from versa_spark import VLABEL_REL, VTYPE_REL
from versa_spark.iri import URI_REF_ILLEGAL_JAVA
from versa_spark.model import QUAD_COLS, dedup_links, union_models
from versa_spark.sqlquote import quote_ident, quote_literal


def _attr_cond(attrs: Mapping):
    """Exact key/value containment over the attrs entry array."""
    cond = None
    for k, v in attrs.items():
        c = F.array_contains(
            "attrs", F.struct(F.lit(str(k)).alias("k"), F.lit(str(v)).alias("v")))
        cond = c if cond is None else (cond & c)
    return cond


def match(df: DataFrame, origin=None, rel=None, target=None,
          attrs: Mapping | None = None) -> DataFrame:
    """Pattern match; falsy component = wildcard (reference
    driver/memory.py:85-116 — note its truthiness test means both ``None``
    and ``''`` are wildcards, replicated here)."""
    out = df
    if origin:
        out = out.filter(F.col("origin") == str(origin))
    if rel:
        out = out.filter(F.col("rel") == str(rel))
    if target:
        out = out.filter(F.col("target") == str(target))
    if attrs:
        out = out.filter(_attr_cond(attrs))
    return out


def multimatch(df: DataFrame, origin=None, rel=None, target=None,
               attrs: Mapping | None = None) -> DataFrame:
    """Like match but each component may be a set of values — OR within a
    component, AND across (reference driver/memory.py:119-150)."""
    def _vals(x):
        if x is None:
            return None
        if isinstance(x, (set, frozenset, list, tuple)):
            return [str(v) for v in x]
        return [str(x)]

    out = df
    for colname, vals in (("origin", _vals(origin)), ("rel", _vals(rel)),
                          ("target", _vals(target))):
        if vals:
            out = out.filter(F.col(colname).isin(vals))
    if attrs:
        out = out.filter(_attr_cond(attrs))
    return out


def column(df: DataFrame, linkpart: str) -> DataFrame:
    """Distinct values of one quad position (reference util.py:78-88)."""
    assert linkpart in QUAD_COLS
    return df.select(linkpart).distinct()


def resourcetypes(df: DataFrame, rid=None) -> DataFrame:
    """Targets of (rid, VTYPE_REL, *) (reference util.py:91-96).
    With rid=None returns the full (origin, typ) relation for joins."""
    out = df.filter(F.col("rel") == str(VTYPE_REL))
    if rid is not None:
        out = out.filter(F.col("origin") == str(rid))
    return out.select(F.col("origin"), F.col("target").alias("typ")).distinct()


def labels(df: DataFrame, rid=None) -> DataFrame:
    """Targets of (rid, VLABEL_REL, *) (reference util.py:99-104)."""
    out = df.filter(F.col("rel") == str(VLABEL_REL))
    if rid is not None:
        out = out.filter(F.col("origin") == str(rid))
    return out.select("origin", F.col("target").alias("label"))


def all_origins(df: DataFrame, of_types=None, only_types=None) -> DataFrame:
    """Distinct origins, optionally restricted to those bearing given
    VTYPE_REL types; ``'*'`` = any type (reference util.py:56-75).
    Typed restriction = left-semi join against the type links — no shuffle
    of the full model beyond the distinct."""
    origins = df.select("origin").distinct()
    of_types = of_types or only_types
    if not of_types:
        return origins
    if isinstance(of_types, str):
        of_types = {of_types}
    of_types = set(str(t) for t in of_types)
    typed = df.filter(F.col("rel") == str(VTYPE_REL))
    if "*" not in of_types:
        typed = typed.filter(F.col("target").isin(list(of_types)))
    return origins.join(typed.select("origin").distinct(), "origin", "left_semi")


def simple_lookup(df: DataFrame, orig, rel):
    """First target for (orig, rel) — first in statement order
    (reference util.py:25-27). Driver-side scalar."""
    rows = (match(df, origin=orig, rel=rel)
            .orderBy(F.col("link_ix").asc_nulls_last())
            .select("target").head(1))
    return rows[0][0] if rows else None


def simple_lookup_byvalue(df: DataFrame, rel, target):
    """First origin for (rel, target) (reference util.py:30-32)."""
    rows = (match(df, rel=rel, target=target)
            .orderBy(F.col("link_ix").asc_nulls_last())
            .select("origin").head(1))
    return rows[0][0] if rows else None


def lookup(df: DataFrame, orig, rel) -> DataFrame:
    """All targets for (orig, rel) (reference util.py:35-38)."""
    return match(df, origin=orig, rel=rel).select("target", "t_iri", "attrs")


def lookup_byvalue(df: DataFrame, rel, target) -> DataFrame:
    """All origins for (rel, target) (reference util.py:40-42)."""
    return match(df, rel=rel, target=target).select("origin")


def static_index(df: DataFrame, rel) -> DataFrame:
    """origin → collected (target, attrs) list for one rel (reference
    util.py:107-141). Returned as a DataFrame suitable for
    ``F.broadcast`` into a map-side join — the reference's own admission
    that origin→target lookup is the hot join."""
    return (match(df, rel=rel)
            .groupBy("origin")
            .agg(F.sort_array(F.collect_list(
                F.struct("link_ix", "target", "t_iri", "attrs"))).alias("vals")))


def origin_view(df: DataFrame) -> DataFrame:
    """origin → list of (rel, target, attrs) over all rels (reference
    util.py:144-158)."""
    return (df.groupBy("origin")
            .agg(F.sort_array(F.collect_list(
                F.struct("link_ix", "rel", "target", "t_iri", "attrs")))
                .alias("links")))


def follow_hops(df: DataFrame, start: DataFrame, rels: Iterable[str],
                start_col: str = "node",
                broadcast_hops: bool = False) -> DataFrame:
    """Bulk multi-hop traversal: from each row of *start* (column
    *start_col*), follow rel₁ then rel₂ … returning (``node``, ``target``,
    ``t_iri``, ``attrs``) landing rows.  Spark form of the reference's
    ``follow`` action loop (pipeline/other_actions.py:295-329) as chained
    equi-joins; a 1-hop follow against a small model should pass
    ``F.broadcast(df)``.

    ``broadcast_hops=True`` hints every per-rel hop table as a broadcast
    side (guide §3.1: size *estimates* after a rel filter are often
    wrong, so AQE discovers broadcastability only after materializing an
    exchange — the explicit hint skips that exchange).  Opt-in because
    only the caller knows whether a single rel's links fit the broadcast
    budget; the default keeps AQE's adaptive choice for arbitrarily
    large models."""
    rels = list(rels)
    if not rels:
        raise ValueError("follow_hops needs at least one rel (an empty "
                         "chain would reference hop columns that were "
                         "never produced)")
    sc = quote_ident(start_col)
    frontier = start.selectExpr(f"{sc} AS node", f"{sc} AS _cur")
    for rel in rels:
        hop = df.where(f"rel = {quote_literal(str(rel))}").selectExpr(
            "origin AS _cur", "target AS _nxt", "t_iri AS _ti",
            "attrs AS _at", "link_ix AS _ix")
        if broadcast_hops:
            hop = F.broadcast(hop)
        # joining on _cur and re-projecting in one selectExpr drops the
        # previous hop's t_iri/attrs/link_ix (hop columns all carry
        # unique underscore names, so no ambiguity) — one fewer
        # DataFrame op per hop than the old pre-select form
        frontier = frontier.join(hop, "_cur").selectExpr(
            "node", "_nxt AS _cur", "_ti AS t_iri", "_at AS attrs",
            "_ix AS link_ix")
    return frontier.selectExpr("node", "_cur AS target", "t_iri", "attrs",
                               "link_ix")


def zoom_in(df: DataFrame, focus, depth: int = 1,
            max_rels: int = 0) -> DataFrame:
    """Subgraph extraction to *depth* hops from *focus* (reference
    util.py:226-253). Bounded iterative self-join — no fixpoint needed.
    Traversal decision uses the same IRI-syntax check as the reference
    (util.py:247). ``max_rels`` budget applied on deterministic order."""
    frontier = df.sparkSession.createDataFrame(
        [(str(focus),)], "origin string")
    out = None
    for _ in range(depth + 1):
        layer = df.join(F.broadcast(frontier), "origin", "left_semi")
        out = layer if out is None else union_models(out, layer)
        # traversable iff it could be a URI reference — the COLUMN
        # form of iri.matches_uri_ref_syntax (same character class the
        # reference applies at util.py:247), not a mere no-whitespace
        # test: 'a<b' or '{x}' must not be traversed
        frontier = (layer.filter(F.col("t_iri") |
                                 ((F.col("target") != "") &
                                  ~F.col("target")
                                  .rlike(URI_REF_ILLEGAL_JAVA)))
                    .select(F.col("target").alias("origin")).distinct())
        if depth == 0:
            break
        depth -= 1
    if max_rels:
        # deterministic budget via sort+limit: Spark plans this as
        # TakeOrderedAndProject (per-partition top-N + driver merge of N
        # rows), never a partition-less global Window funneling the whole
        # subgraph through one task (round-1 scale defect on hub origins)
        out = out.orderBy(F.col("link_ix").asc_nulls_last(),
                          "origin", "rel", "target").limit(max_rels)
    return out


def transitive_closure(df: DataFrame, orig, rel,
                       max_iters: int = 50) -> DataFrame:
    """Closure over one rel from *orig* — iterative join-until-fixpoint
    (the reference's version, util.py:45-53, is marked broken/FIXME;
    semantics here follow its documented intent)."""
    edges = (df.filter(F.col("rel") == str(rel))
             .select(F.col("origin").alias("src"),
                     F.col("target").alias("dst"))
             .distinct().cache())
    # the frontier is localCheckpoint-ed per round (eager, lineage
    # truncated), so the initial cache would never be re-read after round
    # 1 — seed it as a checkpoint too and release the edge cache on every
    # exit path (long-lived sessions must not accumulate cached tables)
    seen = (edges.filter(F.col("src") == str(orig))
            .select(F.col("dst").alias("n")).distinct()
            .localCheckpoint(eager=True))
    from versa_spark.cacheutil import release_checkpoint
    try:
        total = seen.count()
        converged = False
        for i in range(max_iters):
            nxt = (seen.join(edges, F.col("n") == F.col("src"))
                   .select(F.col("dst").alias("n")).distinct())
            grown = seen.unionByName(nxt).distinct()
            # truncate lineage each round (frontier plans otherwise nest
            # one join per hop and bloat driver-side analysis), then free
            # the previous round's checkpoint blocks (unpersist() cannot)
            grown = grown.localCheckpoint(eager=True)
            release_checkpoint(seen)
            seen = grown
            new_total = seen.count()
            if new_total == total:
                converged = True
                break
            total = new_total
    finally:
        edges.unpersist()
    if not converged:
        raise RuntimeError(
            f"transitive_closure did not converge in {max_iters} hops "
            f"(graph deeper than max_iters; raise it)")
    return seen.withColumnRenamed("n", "target")


def replace_entity_resource(df: DataFrame, oldres, newres) -> DataFrame:
    """Rewrite origins/targets/attr values equal to *oldres* → *newres*
    (reference util.py:175-191). This is the canonicalization primitive of
    entity linking; for bulk mappings use a broadcast-join variant in
    kg/job.py."""
    oldres, newres = str(oldres), str(newres)
    out = df.select(
        F.when(F.col("origin") == oldres, F.lit(newres))
         .otherwise(F.col("origin")).alias("origin"),
        F.col("rel"),
        F.when(F.col("target") == oldres, F.lit(newres))
         .otherwise(F.col("target")).alias("target"),
        F.col("t_iri"),
        F.transform("attrs", lambda e: F.struct(
            e["k"].alias("k"),
            F.when(e["v"] == oldres, F.lit(newres)).otherwise(e["v"]).alias("v")
        )).alias("attrs"),
        F.col("link_ix"))
    # merging two entities can collapse their links into exact
    # duplicates; the reference model's add refuses those
    # (memory.py:179-181), so dedup to keep parity
    return dedup_links(out)


def replace_values(df: DataFrame, mapping: Mapping) -> DataFrame:
    """Rewrite origins by a mapping via broadcast join + coalesce
    (reference util.py:162-172)."""
    spark = df.sparkSession
    map_df = spark.createDataFrame(
        [(str(k), str(v)) for k, v in mapping.items()], "_from string, _to string")
    out = (df.join(F.broadcast(map_df), df.origin == map_df._from, "left")
           .select(F.coalesce("_to", "origin").alias("origin"),
                   "rel", "target", "t_iri", "attrs", "link_ix"))
    return dedup_links(out)  # remapped origins may collide — see above


def duplicate_statements(df: DataFrame, oldorigin, neworigin) -> DataFrame:
    """Copy links of *oldorigin* with a new origin, unioned back
    (reference util.py:194-206)."""
    dup = (match(df, origin=oldorigin)
           .withColumn("origin", F.lit(str(neworigin))))
    return union_models(df, dup)


def remove_links(df: DataFrame, condition) -> DataFrame:
    """Delete by predicate (reference ``remove`` by statement id,
    memory.py:231-243 — anti-join semantics): rows NOT matching the
    condition are kept, INCLUDING rows where the predicate evaluates to
    SQL NULL (e.g. a null target compared with ==) — a bare
    ``filter(~cond)`` would silently delete those."""
    return df.filter(~F.coalesce(condition, F.lit(False)))


def uniquify(df: DataFrame) -> DataFrame:
    """Remove duplicate relationships (reference util.py:209-223)."""
    return dedup_links(df)
