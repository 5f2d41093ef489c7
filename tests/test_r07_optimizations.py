"""Round-7 optimization parity tests.

Each optimization that changed an operator's *internals* (never its
results) gets a direct old-vs-new equivalence check here:

* JVM-expression mention extraction (extract.mention_surfaces_col)
  vs the Python reference pattern — including Unicode word-boundary
  edges, where java.util.regex and Python's re disagree on what a word
  character is.
* LSH candidate discovery via bucket groupBy + in-row pair generation
  vs the old banded self-join.
* conversation_links' project-late shape vs the explicit link tuples.
* kg_graph_triples' dropped .distinct(): the triple build must emit
  globally unique rows by construction.
"""

from __future__ import annotations

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

TRICKY_TEXTS = [
    None,
    "",
    "spark joins the table",
    "sparké is not a mention, but spark is",          # unicode neighbor
    "naïve spark café join",                          # unicode tokens around
    "spark spark spark join spark",                   # repeats
    "joins merges sorting windows queries tables",    # alias forms
    "SPARK Join",                                     # case-sensitive: no hit
    "a-join, (merge) [hash]! sort? 'window'",         # punctuation boundaries
    "日本語 spark 日本語",
    "prefixjoin joinsuffix join",                     # \b discipline
    "x" * 5000 + " spark",                            # long text
    "spark\u0301 join",               # combining mark: word char in Java
    "join\u064d spark",               # Arabic mark: word char in Java
    "spark\u00b2 join",               # superscript two: word char in Python
    "x\u200dspark join",              # zero-width joiner: word char in Java
    "\U0001d431spark join",           # supplementary-plane letter
    "\U0001f600spark join",           # supplementary-plane symbol
]


def _texts_df(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(TRICKY_TEXTS)], "rid long, text string")


def test_jvm_mention_extraction_matches_python_reference(spark):
    """The JVM scan equals the reference rules' Python pattern
    (first-occurrence distinct matches) on every tricky text."""
    from versa_spark.kg import extract
    from versa_spark.kg.reference_rules import _PAT
    got = {r.rid: list(r.m) for r in _texts_df(spark).select(
        "rid", extract.mention_surfaces_col("text").alias("m")).collect()}
    want = {rid: list(dict.fromkeys(_PAT.findall(text or "")))
            for rid, text in enumerate(TRICKY_TEXTS)}
    assert got == want


def test_jvm_turn_entity_ids_matches_kernel_indices(spark):
    """eids (canonical tinyint indices) must match mapping the Python
    reference pattern's surface output through LEXICON."""
    from versa_spark.kg import extract
    df = _texts_df(spark).select(
        F.col("rid").alias("conv_id"), F.lit(0).alias("turn_idx"), "text")
    got = {r.conv_id: list(r.eids)
           for r in extract.turn_entity_ids(df).collect()}
    canon_ix = {c: i for i, c in enumerate(extract._CANONICALS)}
    for rid, text in enumerate(TRICKY_TEXTS):
        seen, want = set(), []
        import re
        for m in re.finditer(extract._MENTION_PAT, text or ""):
            ix = canon_ix[extract.LEXICON[m.group(1)]]
            if ix not in seen:
                seen.add(ix)
                want.append(ix)
        assert got[rid] == want, f"rid={rid} text={text!r}"


def test_lsh_bucket_pairs_match_self_join(spark):
    """Round-7 discovery (groupBy bucket + in-row pair expansion) must
    produce exactly the self-join's candidate pair set."""
    from versa_spark import dedup
    docs = spark.range(60).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta gamma delta epsilon zeta "),
                 (F.col("id") % 7).cast("string")).alias("text"))
    banded = dedup._banded_signatures(docs, "doc_id", "text", 3, 16, 4,
                                      "xxhash64")
    left = banded.select(F.col("doc_id").alias("a"), "band", "bucket")
    right = banded.select(F.col("doc_id").alias("b"), "band", "bucket")
    want = {(r.a, r.b) for r in
            (left.join(right, ["band", "bucket"])
             .filter(F.col("a") < F.col("b"))
             .select("a", "b").distinct()).collect()}
    got = {(r.a, r.b) for r in dedup.minhash_lsh_candidates(
        docs, num_hashes=16, bands=4, verify_threshold=None).collect()}
    assert got == want and len(got) > 0


def test_conversation_links_project_late_shape(spark):
    from versa_spark import VTYPE_REL
    from versa_spark.kg import extract
    turns = spark.createDataFrame(
        [("c1", 0, "user", None), ("c1", 1, "tool", "search")],
        "conv_id string, turn_idx int, role string, tool string"
    ).withColumn("turn_iri", F.concat(
        F.lit("http://example.org/transcript/"), "conv_id", F.lit("/"),
        F.col("turn_idx")))
    rows = {(r.origin, r.rel, r.target, r.t_iri)
            for r in extract.conversation_links(turns).collect()}
    B = "http://example.org/"
    T = "http://example.org/transcript/c1"
    want = set()
    for i in (0, 1):
        t = f"{T}/{i}"
        role = "user" if i == 0 else "tool"
        want |= {(T, B + "v/hasTurn", t, True),
                 (t, str(VTYPE_REL), extract.TYPE_TURN, True),
                 (t, B + "v/role", role, False),
                 (t, B + "v/turnIndex", str(i), False)}
    want.add((T, str(VTYPE_REL), extract.TYPE_CONV, True))
    want.add((f"{T}/1", extract.REL_USEDTOOL, B + "tool/search", True))
    assert rows == want


def test_config_guard_rejects_rels_prefix(spark, tmp_path):
    """Advice fix: a job whose relations tuple is a comma-PREFIX of the
    base's must refuse append_batch (the old substring check passed)."""
    import pytest
    from versa_spark.kg.job import KGJob
    from versa_spark.kg.transcripts import transcripts_from_documents
    tx = transcripts_from_documents(spark, "/root/testdata/sf0.001")
    base = KGJob(spark, str(tmp_path / "kg"),
                 relations=("is", "has"))
    base.run(tx.filter(F.col("conv_id") != "conv-0"),
             input_fingerprint="base")
    narrower = KGJob(spark, str(tmp_path / "kg"),
                     relations=("is",))
    with pytest.raises(ValueError, match="does not match"):
        narrower.append_batch(tx.filter(F.col("conv_id") == "conv-0"),
                              "b1", input_fingerprint="b1")
    # same config still appends fine
    again = KGJob(spark, str(tmp_path / "kg"),
                  relations=("is", "has"))
    again.append_batch(tx.filter(F.col("conv_id") == "conv-0"),
                       "b1", input_fingerprint="b1")


def test_turn_relations_normalizes_caller_verbs(spark):
    """Advice fix: '--relations Uses' (case/space sloppy) must match the
    lowercased text scan instead of silently yielding zero triples."""
    import pytest
    from versa_spark.kg import extract
    t = spark.createDataFrame(
        [("c", 0, "spark Uses the table")],
        "conv_id string, turn_idx int, text string").withColumn(
        "turn_iri", F.lit("t/c/0"))
    rows = extract.turn_relations(t, verbs=(" Uses ",)).collect()
    assert [r.verb for r in rows] == ["uses"]
    with pytest.raises(ValueError, match="non-empty"):
        extract.turn_relations(t, verbs=("  ",))


def test_graph_triples_unique_without_distinct(spark):
    """The dropped .distinct() is only sound if build_graph emits unique
    (origin, rel, target) rows — assert it on a derivation with aliases,
    repeats and tool turns."""
    from versa_spark.kg.graph import build_graph
    from versa_spark.kg.transcripts import (ordered_turns,
                                            transcripts_from_documents)
    turns = ordered_turns(
        transcripts_from_documents(spark, "/root/testdata/sf0.001"))
    g = build_graph(spark, turns)["graph"].select("origin", "rel", "target")
    total = g.count()
    assert total == g.distinct().count()


def test_sql_string_minhash_matches_builder_form(spark):
    """Round-7 2nd pass: minhash signatures / banding / shingles are
    assembled as single F.expr SQL strings (one py4j round trip) instead
    of per-hash builder listcomps.  Assert the SQL form computes exactly
    what the original builder expressions computed, on texts covering
    null/empty/multi-space/unicode/short-doc edges."""
    from versa_spark import dedup

    df = _texts_df(spark).select(F.col("rid").alias("doc_id"),
                                 F.coalesce("text", F.lit("pad")).alias("text"))

    # builder twins (the pre-rewrite construction, verbatim)
    def builder_shingles(text_col="text", k=3):
        words = F.split(
            F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " "),
            " ")
        n = F.size(words)
        idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
        sh = F.transform(idx, lambda i: F.concat_ws(
            " ", F.slice(words, i + 1, k)))
        return F.array_distinct(
            F.when(n >= k, sh).otherwise(F.array(F.concat_ws(" ", words))))

    got_sh = [r[0] for r in df.select(dedup.shingle_array("text")).collect()]
    exp_sh = [r[0] for r in df.select(builder_shingles("text")).collect()]
    assert got_sh == exp_sh

    sh = df.select("doc_id",
                   F.explode(builder_shingles("text")).alias("shingle"))
    for fam in ("xxhash64", "md5"):
        if fam == "xxhash64":
            aggs = [F.min(F.xxhash64(F.col("shingle"), F.lit(i)))
                    .alias(f"h{i}") for i in range(64)]
            src = sh
        else:
            a = F.conv(F.substring(F.md5(F.col("shingle")), 1, 12),
                       16, 10).cast("long")
            b = F.conv(F.substring(
                F.md5(F.concat(F.lit("b:"), F.col("shingle"))), 1, 12),
                16, 10).cast("long")
            src = sh.select("doc_id", a.alias("_ha"), b.alias("_hb"))
            aggs = [F.min((F.col("_ha") + i * F.col("_hb"))
                          .bitwiseAND(F.lit(dedup._MD5_MASK))).alias(f"h{i}")
                    for i in range(64)]
        exp = {r.doc_id: r.sig for r in
               src.groupBy("doc_id").agg(*aggs)
               .select("doc_id", F.array(*[F.col(f"h{i}")
                                           for i in range(64)]).alias("sig"))
               .collect()}
        got = {r.doc_id: r.sig for r in
               dedup.minhash_signatures(df, hash_family=fam).collect()}
        assert got == exp, fam

        bucket_of = ((lambda e: F.xxhash64(e)) if fam == "xxhash64"
                     else F.md5)
        sig = dedup.minhash_signatures(df, hash_family=fam)
        exp_b = sorted(map(tuple, sig.select(
            "doc_id",
            F.explode(F.array(*[
                F.struct(F.lit(bb).alias("band"),
                         bucket_of(F.concat_ws(
                             ",", *[F.col("sig")[bb * 4 + r].cast("string")
                                    for r in range(4)])).alias("bucket"))
                for bb in range(16)])).alias("bb"))
            .select("doc_id", "bb.band", "bb.bucket").collect()))
        got_b = sorted(map(tuple, dedup._banded_signatures(
            df, "doc_id", "text", 3, 64, 16, fam).collect()))
        assert got_b == exp_b, fam


def test_verify_candidates_duplicate_pairs_scored_once(spark):
    """Scoped verify emits each candidate pair once, also when the
    caller's candidate frame repeats rows."""
    from versa_spark import dedup
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"),
         (2, "alpha beta gamma delta epsilon"),
         (3, "totally different text here now"),
         (4, "alpha beta gamma delta zeta")],
        "doc_id long, text string")
    cands = spark.createDataFrame([(1, 2), (1, 4)], "a long, b long")
    base = sorted(map(tuple, dedup.ngram_jaccard_pairs(
        docs, threshold=0.5, candidates=cands).collect()))
    assert len(base) == 2
    dup = cands.unionByName(cands)
    assert sorted(map(tuple, dedup.ngram_jaccard_pairs(
        docs, threshold=0.5, candidates=dup).collect())) == base


def test_sql_string_simhash_matches_builder_form(spark):
    """simhash_signatures' single-SQL-string aggregates must equal the
    original 64-vote builder construction for both hash families."""
    from versa_spark import dedup
    df = _texts_df(spark).select(
        F.col("rid").alias("doc_id"),
        F.coalesce("text", F.lit("pad words here")).alias("text"))
    words = F.split(dedup.normalized_text("text"), " ")
    tok = df.select("doc_id", F.explode(words).alias("w"))

    # builder twin — xxhash64 family
    t = tok.withColumn("h", F.xxhash64("w"))
    votes = [F.sum(F.when(F.shiftright(F.col("h"), i)
                          .bitwiseAND(F.lit(1)) == 1, 1)
                   .otherwise(-1)).alias(f"b{i}") for i in range(64)]
    agg = t.groupBy("doc_id").agg(*votes)
    sig = None
    for i in range(64):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")) \
               .otherwise(F.lit(0).cast("long"))
        term = bit * F.lit(1 << i).cast("long") if i < 63 else \
            F.when(F.col(f"b{i}") > 0,
                   F.lit(-(1 << 63)).cast("long")).otherwise(
                       F.lit(0).cast("long"))
        sig = term if sig is None else (sig + term)
    exp = {r.doc_id: r.simhash
           for r in agg.select("doc_id", sig.alias("simhash")).collect()}
    got = {r.doc_id: r.simhash
           for r in dedup.simhash_signatures(df).collect()}
    assert got == exp

    # builder twin — md5 family
    t = tok.withColumn("h16", F.substring(F.md5("w"), 1, 16))
    votes = []
    for i in range(64):
        digit_val = F.conv(F.substring("h16", i // 4 + 1, 1), 16, 10) \
                     .cast("int")
        bit = F.shiftright(digit_val, i % 4).bitwiseAND(F.lit(1))
        votes.append(F.sum(F.when(bit == 1, 1).otherwise(-1))
                     .alias(f"b{i}"))
    agg = t.groupBy("doc_id").agg(*votes)
    sig = F.concat(*[F.when(F.col(f"b{i}") > 0, F.lit("1"))
                     .otherwise(F.lit("0")) for i in range(64)])
    exp = {r.doc_id: r.simhash
           for r in agg.select("doc_id", sig.alias("simhash")).collect()}
    got = {r.doc_id: r.simhash
           for r in dedup.simhash_signatures(df, hash_family="md5").collect()}
    assert got == exp


def test_sql_string_builders_escape_caller_strings(spark):
    """The single-string constructors must round-trip hostile column
    names / rel strings (backticks, quotes, backslashes) exactly like
    the builder forms they replaced."""
    from versa_spark import dedup, ops
    odd = spark.createDataFrame(
        [(1, "alpha beta gamma delta")], "doc_id long, `we``ird` string")
    got = odd.select(dedup.shingle_array("we`ird", k=2)).collect()[0][0]
    assert got == ["alpha beta", "beta gamma", "gamma delta"]

    links = spark.createDataFrame(
        [("n1", "rel'with\\odd", "n2", True, [], None),
         ("n2", "plain", "n3", True, [], None)],
        "origin string, rel string, target string, t_iri boolean, "
        "attrs array<struct<k:string,v:string>>, link_ix long")
    start = spark.createDataFrame([("n1",)], "node string")
    hops = ops.follow_hops(links, start, ["rel'with\\odd"])
    assert [(r.node, r.target) for r in hops.collect()] == [("n1", "n2")]


@settings(max_examples=200, deadline=None)
@given(st.text())
def test_sql_quoting_parses_back(spark, s):
    """Any caller string survives both quoted forms: the session's own
    SQL parser (no Spark job) reads a quoted identifier as the single
    name part ``s`` and a quoted literal as the value ``s``."""
    from versa_spark.sqlquote import quote_ident, quote_literal
    parser = spark._jsparkSession.sessionState().sqlParser()
    parts = parser.parseExpression(quote_ident(s)).nameParts()
    assert [parts.apply(i) for i in range(parts.size())] == [s]
    assert parser.parseExpression(quote_literal(s)).value().toString() == s


def test_sql_constructors_take_any_column_name(spark):
    """Every SQL-string constructor runs end to end on a column named
    with a backtick, a quote, a space and a trailing backslash."""
    from versa_spark import dedup, ops
    from versa_spark.events import value_percentiles
    from versa_spark.kg import extract
    name = "we`ird 'col\\"
    df = spark.createDataFrame([(1, "alpha spark beta join")],
                               ["doc_id", name])
    assert df.select(dedup.shingle_array(name, k=3)).first()[0] == [
        "alpha spark beta", "spark beta join"]
    assert df.select(extract.mention_surfaces_col(name)).first()[0] == [
        "spark", "join"]

    links = spark.createDataFrame(
        [("n1", name, "n2", True, [], 0), ("n1", "plain", "n3", True, [], 1)],
        "origin string, rel string, target string, t_iri boolean, "
        "attrs array<struct<k:string,v:string>>, link_ix long")
    start = spark.createDataFrame([("n1",)], [name])
    hops = ops.follow_hops(links, start, [name], start_col=name)
    assert [(r.node, r.target) for r in hops.collect()] == [("n1", "n2")]

    ev = spark.createDataFrame([("a", 1.0), ("a", 3.0)],
                               ["event_type", name])
    assert value_percentiles(ev, ps=(0.5,), value_col=name).first().p50 \
        == 2.0
