"""The link-quad data model on Spark DataFrames.

A Versa model ("linkset") is an ordered list of quads
``(origin, relationship, target, attributes)`` (reference:
/root/reference/tools/py/driver/memory.py:33-58,
/root/reference/tools/py/driver/__init__.py:3-8).  Here a model is a
DataFrame with the canonical schema:

    origin   string   -- always an IRI
    rel      string   -- always an IRI
    target   string   -- IRI or literal text
    t_iri    boolean  -- True when target is an IRI (the reference's
                         ``isinstance(target, I)`` type distinction,
                         iriref.py:15; marked ``@target-type: @iri-ref``
                         in canonical dumps, memory.py:281-287)
    attrs    array<struct<k:string, v:string>>
                      -- per-statement attributes, canonically sorted by
                         (k, v).  Arrays (not maps) so that set operations
                         and dropDuplicates work on whole rows.
    link_ix  long     -- statement order (memory.py:58,183-188); nullable.

Scale notes: all operations below are pure DataFrame transformations —
Catalyst handles predicate pushdown and column pruning; a model persisted
as Parquet partitioned/bucketed by ``origin`` gets point-lookup pruning for
match(origin=...) the way the reference's lmdb driver does prefix seeks
(lmdb.py:117-168).
"""

from __future__ import annotations

import json
from typing import Iterable, Mapping

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql.types import (
    ArrayType, BooleanType, LongType, StringType, StructField, StructType,
)

from versa_spark.iriref import I

ATTR_ENTRY = StructType([
    StructField("k", StringType(), False),
    StructField("v", StringType(), True),
])

LINK_SCHEMA = StructType([
    StructField("origin", StringType(), False),
    StructField("rel", StringType(), False),
    StructField("target", StringType(), True),
    StructField("t_iri", BooleanType(), False),
    StructField("attrs", ArrayType(ATTR_ENTRY), False),
    StructField("link_ix", LongType(), True),
])

LINK_COLS = ["origin", "rel", "target", "t_iri", "attrs", "link_ix"]
QUAD_COLS = ["origin", "rel", "target", "t_iri", "attrs"]


def _attr_entries(attrs: Mapping | None) -> list:
    """Canonical sorted (k, v) entry list from an attribute mapping.

    List-valued attributes (reference builds them by folding repeated keys,
    link_materialize_actions.py:94-100) become multiple entries with the
    same key; canonical order is (k, v).
    """
    entries = []
    for k, v in (attrs or {}).items():
        if isinstance(v, (list, tuple, set)):
            for item in sorted(str(x) for x in v):
                entries.append((str(k), item))
        else:
            entries.append((str(k), str(v)))
    entries.sort()
    return entries


def quads_to_rows(quads: Iterable) -> list[tuple]:
    """Python quads [(o, r, t, attrs)] → rows for ``LINK_SCHEMA``.

    IRI-ness of the target is taken from its Python type (``I`` instance),
    mirroring the reference's type-driven distinction."""
    rows = []
    for ix, quad in enumerate(quads):
        if len(quad) == 3:
            o, r, t = quad
            a = {}
        else:
            o, r, t, a = quad
        rows.append((str(o), str(r),
                     None if t is None else str(t),
                     isinstance(t, I), _attr_entries(a), ix))
    return rows


def from_quads(spark: SparkSession, quads: Iterable) -> DataFrame:
    """Create a model DataFrame from Python quads (test/fixture-scale)."""
    return spark.createDataFrame(quads_to_rows(quads), LINK_SCHEMA)


def dedup_links(df: DataFrame) -> DataFrame:
    """Duplicate refusal: the reference's ``add`` silently refuses exact
    duplicate quads (memory.py:179-181). Keeps the lowest link_ix."""
    if "link_ix" in df.columns:
        w = (Window.partitionBy(*QUAD_COLS)
             .orderBy(F.col("link_ix").asc_nulls_last()))
        return (df.withColumn("_rn", F.row_number().over(w))
                  .filter(F.col("_rn") == 1).drop("_rn"))
    return df.dropDuplicates(QUAD_COLS)


def union_models(*dfs: DataFrame) -> DataFrame:
    """Model union with dedup (reference ``update``, memory.py:221-229)."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return dedup_links(out)


def attrs_map(col="attrs"):
    """Expression: attrs entry array → map<string,string>, last wins for
    repeated keys.

    Spark's default ``spark.sql.mapKeyDedupPolicy=EXCEPTION`` makes a
    bare ``map_from_entries`` THROW on the duplicate keys that folded
    list-valued attributes legitimately produce, so entries are deduped
    in-plan first: keep entry i iff no later entry shares its key
    (O(n²) over the handful of attrs on a link — array expressions,
    no UDF, independent of the session's dedup policy)."""
    c = F.col(col) if isinstance(col, str) else col
    deduped = F.filter(
        c, lambda e, i: ~F.exists(
            F.slice(c, i + F.lit(2),
                    F.greatest(F.size(c) - i - 1, F.lit(0))),
            lambda later: later["k"] == e["k"]))
    return F.map_from_entries(deduped)


def size(df: DataFrame) -> int:
    """Number of links (reference memory.py:71-78)."""
    return df.count()


# ---------------------------------------------------------------------------
# Canonicalization & equality (reference memory.py:263-291)
# ---------------------------------------------------------------------------

def _canon_quad(row) -> tuple:
    attrs = [(e["k"], e["v"]) for e in (row["attrs"] or [])]
    if row["t_iri"]:
        attrs = attrs + [("@target-type", "@iri-ref")]
    return (row["origin"], row["rel"], row["target"], tuple(sorted(attrs)))


def canonical_quads(df: DataFrame) -> list[tuple]:
    """Collected, canonically sorted quads — the model-equality oracle
    (mirror of the reference ``__repr__``-based equality,
    memory.py:263-291). For fixture-scale tests only."""
    return sorted(_canon_quad(r) for r in df.collect())


def models_equal(a: DataFrame, b: DataFrame) -> bool:
    """Distributed equality: both directions of exceptAll are empty."""
    ac = a.select(*QUAD_COLS)
    bc = b.select(*QUAD_COLS)
    return ac.exceptAll(bc).isEmpty() and bc.exceptAll(ac).isEmpty()


# ---------------------------------------------------------------------------
# JSON dump/load parity (reference util.py:256-285)
# ---------------------------------------------------------------------------

def jsondump(df: DataFrame, fp) -> None:
    """Dump in the reference's canonical JSON list-of-quads form with the
    ``@target-type: @iri-ref`` marker (util.py:276-285 + memory.py:281-287).
    Driver-side; for fixture-scale models. At scale use ``df.write.json``."""
    quads = []
    for o, r, t, attrs in canonical_quads(df):
        a = {}
        for k, v in attrs:
            if k in a:
                a[k] = (a[k] if isinstance(a[k], list) else [a[k]]) + [v]
            else:
                a[k] = v
        quads.append([o, r, t, a])
    fp.write(json.dumps(quads, indent=None))


def jsonload(spark: SparkSession, fp) -> DataFrame:
    """Load the reference's JSON dump form (util.py:256-273)."""
    dumped = json.load(fp)
    quads = []
    for link in dumped:
        if len(link) == 2:
            _, (s, p, o, a) = link
        elif len(link) == 4:
            s, p, o, a = link
            if a.get("@target-type") == "@iri-ref":
                o = I(o)
            a.pop("@target-type", None)
        else:
            continue
        quads.append((s, p, o, a))
    return from_quads(spark, quads)
