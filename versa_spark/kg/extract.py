"""Mention detection & triple extraction over turn text.

The Spark restatement of the reference's parse→fingerprint→transform flow
(SURVEY.md §3.1) for transcripts: mention detection is one JVM
``regexp_extract_all`` over the lexicon alternation (no Python in the
plan), and triple construction is pure column expressions + explode.

Vocabulary: the KG rels live under http://bibfra.me/purl/versa/ alongside
the reference's own (type/label), plus transcript-domain rels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from versa_spark import VTYPE_REL
from versa_spark.sqlquote import quote_ident, quote_literal

BASE = "http://example.org/"
ENT = BASE + "entity/"
REL_HASTURN = BASE + "v/hasTurn"
REL_MENTIONS = BASE + "v/mentions"
REL_USEDTOOL = BASE + "v/usedTool"
TYPE_CONV = BASE + "v/Conversation"
TYPE_TURN = BASE + "v/Turn"
TYPE_CONCEPT = BASE + "v/Concept"
TYPE_TOOL = BASE + "v/Tool"

# The canonical entity lexicon: surface form → canonical name.  Includes
# alias forms so entity linking is a real normalization step, and the
# high-frequency 'spark' entity (hot key) for skew handling.
LEXICON = {
    "spark": "spark", "join": "join", "merge": "merge", "hash": "hash",
    "sort": "sort", "window": "window", "filter": "filter", "batch": "batch",
    "stream": "stream", "vector": "vector", "query": "query",
    "table": "table", "column": "column", "agg": "agg", "scan": "scan",
    # alias forms → canonical
    "joins": "join", "merges": "merge", "sorting": "sort",
    "windows": "window", "queries": "query", "tables": "table",
}

_MENTION_ALT = "|".join(sorted(LEXICON, key=len, reverse=True))

# Python form of the mention scan: the oracle that kg.reference_rules and
# the tests compile with ``re``.
_MENTION_PAT = r"\b(" + _MENTION_ALT + r")\b"

# The one JVM form, compiled by mention_surfaces_sql and turn_relations.
# Python's str \w is letters, numbers and '_'; Java's (?U)\w also counts
# combining marks and the zero-width joiner and drops numbers such as
# '²', so the word boundaries are spelled out as lookarounds over
# Python's word class.  The surrogate-pair branch never matches a valid
# string: it widens the lookbehind to two UTF-16 units, so a
# supplementary-plane letter before a mention ("\U0001d431spark") is
# read as one code point instead of a lone low surrogate.  Letters newer
# than the JVM's Unicode tables (Unicode 14 on Java 17) still read as
# non-word on the JVM side.
_WORD = r"[\p{L}\p{N}_]"
_MENTION_PAT_JVM = (
    rf"(?<!{_WORD}|[\x{{D800}}-\x{{DBFF}}][\x{{DC00}}-\x{{DFFF}}])"
    rf"({_MENTION_ALT})(?!{_WORD})")

_MENTION_PAT_SQL = quote_literal(_MENTION_PAT_JVM)


def mention_surfaces_sql(text_col: str) -> str:
    """SQL text of the extraction expression — single-string construction
    (one py4j round trip; guide §4 chatter note, see dedup._shingle_sql)."""
    return (f"array_distinct(regexp_extract_all("
            f"coalesce({quote_ident(text_col)}, ''), {_MENTION_PAT_SQL}, 1))")


def mention_surfaces_col(text_col: str):
    """Column expression: text column name → array of distinct lexicon
    surface forms in first-occurrence order (guide §4: built-ins beat
    any Python boundary for a scan this simple).  ``regexp_extract_all``
    with the length-sorted alternation yields every match in occurrence
    order; ``array_distinct`` keeps the first occurrence of each
    surface.  Equal to first-occurrence-distinct ``_MENTION_PAT``
    matches under Python's ``re`` (tested), with no Python workers in
    the plan.  Null text yields an empty array."""
    return F.expr(mention_surfaces_sql(text_col))


# deterministic index space for the lexicon surfaces
_SURFACES = sorted(LEXICON)

# canonical-entity index space: the lexicon's value set.  Because the
# mention regex only ever matches lexicon surfaces, surface→canonical is
# a PURE FUNCTION of the surface index, known at plan time — linking
# against the default dictionary fuses into the plan as a literal map
# (the degenerate broadcast join; the generic kg.linking path handles
# arbitrary dictionaries).
_CANONICALS = sorted(set(LEXICON.values()))
_CANON_IX = {c: i for i, c in enumerate(_CANONICALS)}
_SURFACE_CANON_IX = [_CANON_IX[LEXICON[s]] for s in _SURFACES]


def canonical_iri_sql(ix: str) -> str:
    """SQL text: canonical index expression ``ix`` (0-based, any
    integer type) → its entity IRI, one ``element_at`` over a literal
    array, so the mapping stays in-row."""
    return _element_at_sql([ENT + c for c in _CANONICALS], ix)


def canonical_name_sql(ix: str) -> str:
    """SQL text: canonical index expression ``ix`` → its canonical
    name (the ``canonical_iri_sql`` twin)."""
    return _element_at_sql(_CANONICALS, ix)


def _element_at_sql(values, ix: str) -> str:
    arr = ",".join(quote_literal(v) for v in values)
    return f"element_at(array({arr}), cast({ix} as int) + 1)"


def turn_mentions(turns: DataFrame) -> DataFrame:
    """ordered turns → (conv_id, turn_idx, turn_iri, surface) mention rows.

    The scan is a pure JVM column expression (mention_surfaces_col) —
    the small-lexicon alternation compiles into the codegen stage, so
    the extraction pays no JVM↔Python boundary at all."""
    return (turns
            .withColumn("mids", mention_surfaces_col("text"))
            .select("conv_id", "turn_idx", "turn_iri",
                    F.explode("mids").alias("surface")))


def turn_entity_ids(turns: DataFrame) -> DataFrame:
    """turns → the same rows minus ``text``, plus ``eids``: the per-turn
    DISTINCT canonical-entity indices (tinyint array).

    This is the zero-exchange mention/linking path: the scan already
    returns distinct surfaces per turn, surface→canonical collapses via
    a literal index map (F.transform + element_at) and aliases dedup via
    array_distinct — all BEFORE the explode, inside the row.  Since
    (conv_id, turn_idx) uniquely keys turns, the exploded mention-link
    rows are globally unique by construction and the triple build needs
    NO dedup shuffle at all (round-2 shrank that exchange to a narrow
    key; this removes it).

    PRECONDITION: (conv_id, turn_idx) must be unique in ``turns`` — it
    is the transcript table's primary key (north-rule input contract).
    An at-least-once ingest that may replay rows must dedup first
    (streaming.stream_graph_query does, per micro-batch; batch readers
    of the checkpointed job inherit uniqueness from the stage write).
    With duplicate keys this path emits duplicate triples where the
    generic mention_links path would collapse the mention family.

    Round 7: extraction is the pure-JVM mention_surfaces_col expression —
    surface→canonical collapses via a literal map and array_distinct, all
    inside one codegen stage, with NO Python evaluation node anywhere in
    the triple-build plan (previously one ArrowEvalPython; removing it
    cut both the median and — more importantly — the lap variance of the
    bench e2e, the Python-worker spawn being the dominant burst source)."""
    # whole mids→eids mapping as one SQL string (map literal + transform
    # + array_distinct): the create_map of 2·|lexicon| literals plus the
    # lambda used to cost ~90 py4j round trips per call (guide §4
    # construction-chatter note)
    canon_map_sql = "map(" + ",".join(
        f"'{s}',{i}" for s, i in zip(_SURFACES, _SURFACE_CANON_IX)) + ")"
    keep = [c for c in turns.columns if c != "text"]
    return turns.selectExpr(
        *keep,
        f"array_distinct(transform({mention_surfaces_sql('text')}, "
        f"m -> cast(element_at({canon_map_sql}, m) as tinyint))) AS eids")


def turn_entity_iri_sets(turns: DataFrame) -> DataFrame:
    """turns → (all columns minus ``text``, plus ``ents``): per-turn
    DISTINCT canonical entity IRIs as a string array — the label-pair
    form of ``turn_entity_ids``, still zero-exchange (the tinyint→IRI
    step is one more literal ``element_at``, fully in-row).

    This is the sets-shaped producer for
    ``analytics.cooccurrence_pmi_from_sets``: feeding it skips the
    collect_set corpus exchange that ``cooccurrence_pmi`` needs over
    exploded mention rows (measured 37.5 s → 5.1 s best-lap at 4M
    turns, local[32]).  Same PRECONDITION as ``turn_entity_ids``:
    (conv_id, turn_idx) unique."""
    keep = [c for c in turns.columns if c != "text"]
    return turn_entity_ids(turns).selectExpr(
        *keep, f"transform(eids, e -> {canonical_iri_sql('e')}) AS ents")


# Multi-word surfaces for the big-dictionary fixtures: phrases that occur
# in the driver documents corpus, so detection of n>1 token grams is
# exercised with real hits (padding surfaces never match by construction).
BIGDICT_PHRASES = ("batch window", "big vector", "fast merge", "hash value",
                   "sort table", "stream fast", "value table")


def synthetic_big_dictionary(spark, n_pad: int = 20_000) -> DataFrame:
    """Deterministic large gazetteer fixture: the 17-surface LEXICON, the
    multi-word BIGDICT_PHRASES, plus ``n_pad`` generated never-matching
    surfaces (``xsurf_<i>``) — ≥20k surfaces total, far past where the
    fused-regex small-lexicon path stops being viable.  Pure
    ``spark.range`` + column expressions, reproducible 1:1 in SQL
    (the driver oracle regenerates it with a VALUES list + range())."""
    rows = [(s, c, ENT + c) for s, c in sorted(LEXICON.items())]
    rows += [(p, p, ENT + p.replace(" ", "_")) for p in BIGDICT_PHRASES]
    base = spark.createDataFrame(
        rows, "surface string, canonical string, entity_iri string")
    pad = spark.range(n_pad).select(
        F.concat(F.lit("xsurf_"), F.col("id")).alias("surface"),
        F.concat(F.lit("xsurf_"), F.col("id")).alias("canonical"),
        F.concat(F.lit(ENT + "xsurf_"), F.col("id")).alias("entity_iri"))
    return base.unionByName(pad)


# turn_mentions_bigdict broadcasts a dictionary of at most this many rows
# (full string rows: a few hundred MB, the broadcast-relation budget)
_BIGDICT_BROADCAST_ROWS = 2_000_000


def turn_mentions_bigdict(turns: DataFrame, dictionary: DataFrame,
                          max_ngram: int | None = None) -> DataFrame:
    """Large-dictionary mention detection: token n-grams hash-joined
    against a dictionary TABLE — the reference's own ``lookup()`` join
    discipline (other_actions.py:366-404) applied to *detection*, for
    gazetteers of 10^5–10^7 surfaces where a fused regex alternation
    (turn_mentions' small-lexicon fast path) no longer compiles usefully
    and literal index arrays would blow the plan.

    Semantics: a mention is a run of 1..max_ngram consecutive word
    tokens (maximal ``[A-Za-z0-9_]+`` runs, case-sensitive — the \\b
    semantics of the regex path) whose single-space join equals the
    dictionary surface's OWN token sequence (the surface is normalized
    to the same token/space form for the join key; the emitted
    ``surface`` column is the dictionary's original spelling).  For
    all-word-char surfaces this is exactly the ``\\b(surface)\\b`` regex
    semantics; surfaces containing other separators ("k-means",
    "new  york") match their token sequence regardless of the separator
    characters between the tokens (the one documented divergence: the
    regex path would demand the literal separators).  Two surfaces that
    normalize identically both match the same occurrences (one output
    row each).  Dictionary contract: ``surface`` unique; extra
    dictionary columns (canonical, entity_iri, …) ride through the
    detection join, fusing detection + linking into ONE map-side join.

    ``max_ngram=None`` (default) sizes the candidate grammar from the
    dictionary itself — the max token count over surfaces, harvested by
    the same tiny aggregation that counts the dictionary — so
    multi-word surfaces can never be silently undetectable; pass an
    explicit ``max_ngram`` to cap the candidate stream (surfaces with
    more tokens are then deliberately out of scope).

    Plan shape at 100 TB: tokens and candidate n-grams build inside
    per-row array expressions (array_distinct BEFORE the explode, so
    output rows are unique per (turn, dictionary row) with no post-join
    dedup shuffle), then one hash join on the normalized key.  One
    aggregation over the dictionary (a narrow scan) counts it and
    harvests min/max normalized-surface length, so obviously-unmatchable
    candidates are pruned JVM-side.  At or below
    ``_BIGDICT_BROADCAST_ROWS`` the dictionary is hinted
    ``F.broadcast`` — the join is then map-side with ZERO exchange of
    the turn stream, and hot surfaces are harmless (no shuffle by
    surface ever happens).  Above it AQE plans a shuffle join on the
    normalized surface, where a dictionary surface that is also a
    stopword-frequency token lands its whole candidate stream on one
    reducer; AQE's skew-join split (on by default) re-chunks such
    partitions at runtime."""
    def _norm(col):
        return F.array_join(
            F.filter(F.split(col, r"[^A-Za-z0-9_]+"), lambda t: t != ""),
            " ")

    norm = _norm(F.col("surface"))
    stats = dictionary.agg(
        F.count("*").alias("n"),
        F.min(F.length(norm)).alias("lo"),
        F.max(F.length(norm)).alias("hi"),
        F.max(F.size(F.filter(
            F.split(F.col("surface"), r"[^A-Za-z0-9_]+"),
            lambda t: t != ""))).alias("toks")).first()
    if max_ngram is None:
        max_ngram = max(1, int(stats["toks"] or 1))
    d = dictionary.withColumn("_k", norm)
    if stats["n"] <= _BIGDICT_BROADCAST_ROWS:
        d = F.broadcast(d)

    toks = F.filter(F.split(F.col("text"), r"[^A-Za-z0-9_]+"),
                    lambda t: t != "")

    def _grams(n):
        # NB the transform lambda must be UNARY — pyspark dispatches a
        # binary lambda as (element, index), so e.g. a `n=n` default
        # would silently bind n to the array index
        return F.transform(
            F.sequence(F.lit(1), F.size("_toks") - n + 1),
            lambda i: F.array_join(F.slice("_toks", i, n), " "))

    grams = [F.col("_toks")]
    for n in range(2, max_ngram + 1):
        # guard: F.sequence(1, size-n+1) DESCENDS when size < n
        grams.append(F.when(F.size("_toks") >= n, _grams(n))
                     .otherwise(F.array().cast("array<string>")))
    cand = F.array_distinct(F.flatten(F.array(*grams)))

    keep = [c for c in ("conv_id", "turn_idx", "turn_iri")
            if c in turns.columns]
    out = (turns.withColumn("_toks", toks)
           .select(*keep, F.explode(cand).alias("_cand")))
    if stats["lo"] is not None:
        out = out.filter(F.length("_cand").between(stats["lo"], stats["hi"]))
    payload = [c for c in dictionary.columns if c != "surface"]
    return (out.join(d, out["_cand"] == d["_k"], "inner")
            .select(*keep, "surface", *payload))


REL_VERB_PREFIX = BASE + "v/rel/"

# Connector verbs for relation extraction: a closed, auditable set (the
# Versa pipeline-rule spirit — relations you declared, not an open tagger).
DEFAULT_RELATION_VERBS = (
    "is", "has", "uses", "reads", "writes", "builds", "runs", "calls",
    "feeds", "beats", "needs", "drives",
)


def turn_relations(turns: DataFrame,
                   verbs: tuple[str, ...] = DEFAULT_RELATION_VERBS,
                   ) -> DataFrame:
    """Verb-linked entity relations inside a turn: for each ADJACENT
    pair of detected mentions (by first occurrence, left→right), if a
    connector verb from the closed ``verbs`` set appears in the text
    between them, emit (subj_entity, v/rel/<verb>, obj_entity).

    "spark reads the table and feeds the stream" →
        (entity/spark, v/rel/reads, entity/table),
        (entity/table, v/rel/feeds, entity/stream).

    Spark-first shape: TWO fused-regex passes over the text with the
    mention scan's own pattern (``_MENTION_PAT_JVM``) —
    ``regexp_extract_all`` yields every mention in occurrence order and
    ``split`` on the identical pattern yields the between-texts, so
    segment i+1 is exactly the window between mention i and mention
    i+1; the verb is one ``regexp_extract`` per window, the
    surface→canonical step is an in-row map literal, then ONE explode.
    Zero joins, zero shuffles, no Python: the relation pass costs one
    more columnar scan of the turns table at any corpus size (an
    earlier per-surface ``regexp_instr`` draft cost |lexicon|
    regex evaluations per row — 13× slower at 4M turns).  ALL
    occurrences anchor relations (position-complete adjacency).
    Returns (conv_id, turn_idx, turn_iri, subj_iri, verb, rel_iri,
    obj_iri)."""
    low = F.lower(F.col("text"))
    ments = F.regexp_extract_all(low, F.lit(_MENTION_PAT_JVM), 1)
    # Java's split drops capture groups, so the same pattern splits
    segs = F.split(low, _MENTION_PAT_JVM)
    canon_map = F.create_map(*[F.lit(x) for s in _SURFACES
                               for x in (s, LEXICON[s])])
    # verbs are caller-supplied (CLI --relations): escape each so a
    # metacharacter ('c++', 'a.b') can't blow up — or silently loosen —
    # the compiled alternation deep inside the stage.  r07 (advice fix):
    # verbs are matched against lower(text), so normalize them to
    # stripped lowercase too — '--relations Uses' used to compile a
    # case-sensitive alternation that could never match and silently
    # yielded zero relation triples.
    import re as _re
    verbs = tuple(dict.fromkeys(
        v.strip().lower() for v in verbs if v and v.strip()))
    if not verbs:
        raise ValueError("turn_relations needs at least one non-empty "
                         "verb (after strip/lowercase normalization)")
    verb_pat = r"\b(" + "|".join(
        _re.escape(v) for v in sorted(verbs, key=len, reverse=True)) \
        + r")\b"
    pairs = F.when(F.size(ments) >= 2, F.filter(
        F.transform(
            F.sequence(F.lit(0), F.size(ments) - 2),
            lambda i: F.struct(
                F.element_at(canon_map,
                             F.element_at(ments, i + 1)).alias("a"),
                F.element_at(canon_map,
                             F.element_at(ments, i + 2)).alias("b"),
                F.regexp_extract(F.element_at(segs, i + 2),
                                 verb_pat, 1).alias("verb"))),
        lambda p: (p["verb"] != "") & (p["a"] != p["b"]))
    ).otherwise(
        F.array().cast("array<struct<a:string,b:string,verb:string>>"))
    return (turns
            .select("conv_id", "turn_idx", "turn_iri",
                    F.explode(pairs).alias("p"))
            .select("conv_id", "turn_idx", "turn_iri",
                    F.concat(F.lit(ENT), F.col("p.a")).alias("subj_iri"),
                    F.col("p.verb").alias("verb"),
                    F.concat(F.lit(REL_VERB_PREFIX), F.col("p.verb"))
                    .alias("rel_iri"),
                    F.concat(F.lit(ENT), F.col("p.b")).alias("obj_iri")))


def relation_links(turns: DataFrame,
                   verbs: tuple[str, ...] = DEFAULT_RELATION_VERBS,
                   ) -> DataFrame:
    """:func:`turn_relations` as graph rows (origin, rel, target,
    t_iri) ready to union into a ``build_graph`` output — per-pair
    rows are deduped on the NARROW (subj, verb, obj) key (a relation
    asserted in many turns is one triple, Versa set semantics)."""
    rel = (turn_relations(turns, verbs=verbs)
           .select("subj_iri", "rel_iri", "obj_iri")
           .dropDuplicates(["subj_iri", "rel_iri", "obj_iri"]))
    return rel.select(F.col("subj_iri").alias("origin"),
                      F.col("rel_iri").alias("rel"),
                      F.col("obj_iri").alias("target"),
                      F.lit(True).alias("t_iri"))


def conversation_links(turns: DataFrame) -> DataFrame:
    """Structural triples: conversation/turn typing + hasTurn edges with
    turn metadata attrs. Pure column expressions + explode.

    Round 7 shape: the four per-turn links explode as a constant index
    sequence and the (origin, rel, target, t_iri) strings are built by a
    Project ABOVE the Generate instead of inside an array-of-structs
    below it (guide §2.3 "project before/after the right boundary",
    inverted: build payloads late).  Same rows; but consumers that never
    read the strings — count()-shaped actions, semi-joins on other
    columns — now prune the concat work away entirely, and full
    materializations skip the per-row 4-struct array allocation.

    ``turn_iri`` is rebuilt from (conv_id, turn_idx) when the input
    doesn't carry it (byte-identical to the ordered_turns construction):
    build_graph's persisted slim frame deliberately drops the ~50-byte
    IRI string so it never occupies cache — it is a pure function of the
    key columns and cheaper to re-derive above the cache scan than to
    store (and count-shaped consumers then never build it at all)."""
    from versa_spark.kg.transcripts import TURN_IRI_PREFIX
    if "turn_iri" not in turns.columns:
        turns = turns.withColumn(
            "turn_iri",
            F.expr(f"concat('{TURN_IRI_PREFIX}', conv_id, '/', turn_idx)"))

    # Per-turn links are unique by construction (one turn_iri per row), so
    # no global dedup shuffle; only the per-conversation type link needs a
    # distinct — over conv ids, not the full link table.  All projections
    # are single selectExpr strings (construction-chatter note, guide §4:
    # the old builder form cost ~0.2 s/call in py4j round trips).
    per_turn = (turns
                .selectExpr("conv_id", "turn_iri", "role", "turn_idx",
                            "explode(sequence(0, 3)) AS _i")
                .selectExpr(
                    f"CASE WHEN _i = 0 THEN"
                    f" concat('{BASE}transcript/', conv_id)"
                    f" ELSE turn_iri END AS origin",
                    f"element_at(array('{REL_HASTURN}', '{VTYPE_REL}',"
                    f" '{BASE}v/role', '{BASE}v/turnIndex'), _i + 1) AS rel",
                    f"CASE WHEN _i = 0 THEN turn_iri"
                    f" WHEN _i = 1 THEN '{TYPE_TURN}'"
                    f" WHEN _i = 2 THEN role"
                    f" ELSE cast(turn_idx as string) END AS target",
                    "_i <= 1 AS t_iri"))
    conv_type = (turns.select("conv_id").distinct()
                 .selectExpr(
                     f"concat('{BASE}transcript/', conv_id) AS origin",
                     f"'{VTYPE_REL}' AS rel",
                     f"'{TYPE_CONV}' AS target",
                     "true AS t_iri"))
    tool_links = (turns.filter("tool IS NOT NULL")
                  .selectExpr(
                      "turn_iri AS origin",
                      f"'{REL_USEDTOOL}' AS rel",
                      f"concat('{BASE}tool/', tool) AS target",
                      "true AS t_iri"))
    return per_turn.unionByName(conv_type).unionByName(tool_links)
