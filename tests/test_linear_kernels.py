"""Linear-time in-row kernels: each row's word (or mention) array is
built once, never once per lambda element.

Spark's higher-order functions evaluate their lambda per element, and an
expression the lambda names that is not a lambda variable is evaluated
again for every element (no common-subexpression elimination inside a
lambda).  A shingle lambda that names ``split(regexp_replace(text))``
therefore re-splits the whole text once per shingle.  These tests pin:

* value parity of the rewritten shingle kernel against the previous
  expression text (kept verbatim below as the reference): shingle
  arrays and schemas, ``dedup_against_index`` pairs and the stored
  ``write_dedup_index`` tables;
* the optimized plan of every rewritten kernel: the row's regex/split
  appears once per pass over the input and never inside a lambda, so
  neither the rewrite nor an optimizer rule (``CollapseProject``
  inlining a bound column back into its consumer, a Filter pushed below
  the binding projection) brings the per-element re-evaluation back.
"""

from __future__ import annotations

import glob
import os
import random
import re

import pyarrow.parquet as pq
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from versa_spark import dedup, textops
from versa_spark.kg import extract
from versa_spark.sqlquote import quote_ident, quote_literal


def _reference_shingle_sql(text_col: str, k: int) -> str:
    """The shingle expression before the word array was bound once —
    verbatim; it names the regex/split inside the shingle lambda."""
    ws = quote_literal(r"\s+")
    w = (f"split(regexp_replace(lower(trim({quote_ident(text_col)})), "
         f"{ws}, ' '), ' ')")
    return (
        f"array_distinct(CASE WHEN size({w}) >= {k} THEN "
        f"transform(sequence(0, greatest(size({w}) - {k}, 0)), "
        f"_si -> concat_ws(' ', slice({w}, _si + 1, {k}))) "
        f"ELSE array(concat_ws(' ', {w})) END)")


EDGE_TEXTS = [
    None,
    "",
    "   ",
    "\t\n \r\n",
    "one",
    "two words",
    "exactly three words",
    "Leading and trailing  ",
    "\tTab\tseparated\ttext\nwith\n\nnewline runs",
    "x y z x y z x y z x y z",                 # repeated shingles
    "a a a a a a",
    "naïve café Ünïcode ñ 日本 語 テキスト 😀 emoji",
    "MiXeD CaSe mixed case MIXED CASE",
    " ".join(f"w{i % 7}" for i in range(200)),
]


def _texts(spark, texts):
    return spark.createDataFrame(list(enumerate(texts)),
                                 "rid int, text string")


def _both(df, k):
    new = df.select("rid", dedup.shingle_array("text", k).alias("sh"))
    ref = df.select("rid",
                    F.expr(_reference_shingle_sql("text", k)).alias("sh"))
    return new, ref


@pytest.mark.parametrize("k", [1, 2, 3, 5])
def test_shingle_array_matches_reference_expression(spark, k):
    df = _texts(spark, EDGE_TEXTS)
    new, ref = _both(df, k)
    # type and nullability (element nullability included) are what the
    # stored shingles/ schema is written from
    assert new.schema == ref.schema
    assert (sorted(map(tuple, new.collect()))
            == sorted(map(tuple, ref.collect())))
    # a NOT NULL text column keeps the non-nullable result too
    nn = spark.createDataFrame([("a b c d",)], "text string not null")
    assert (nn.select(dedup.shingle_array("text", k).alias("sh")).schema
            == nn.select(F.expr(_reference_shingle_sql("text", k))
                         .alias("sh")).schema)


@settings(max_examples=25, deadline=None)
@given(st.lists(st.one_of(st.none(), st.text()), min_size=1, max_size=8),
       st.integers(1, 4))
def test_shingle_array_matches_reference_on_any_text(spark, texts, k):
    new, ref = _both(_texts(spark, texts), k)
    assert (sorted(map(tuple, new.collect()))
            == sorted(map(tuple, ref.collect())))


def _corpus(spark):
    """Index docs, and a batch with planted near-dups (one or two words
    edited), fresh docs, decoys sharing a few shingles, and
    null/blank/short texts on both sides."""
    rng = random.Random(7)
    vocab = [f"v{i}" for i in range(300)]
    base = [" ".join(rng.choice(vocab) for _ in range(40))
            for _ in range(60)]
    index = [(i, t) for i, t in enumerate(base)]
    index += [(100, None), (101, ""), (102, "a b")]
    batch = []
    for j, src in enumerate(base[:12]):
        w = src.split()
        for e in range(1 + j % 2):
            w[rng.randrange(len(w))] = "edit"
        batch.append((1000 + j, " ".join(w)))
    for j in range(8):
        batch.append((2000 + j, " ".join(rng.choice(vocab)
                                         for _ in range(40))))
    for j, src in enumerate(base[20:26]):
        batch.append((3000 + j, " ".join(src.split()[:8])
                      + " " + " ".join(rng.choice(vocab)
                                       for _ in range(30))))
    batch += [(4000, None), (4001, "   "), (4002, "a b")]
    schema = "doc_id long, text string"
    return (spark.createDataFrame(index, schema),
            spark.createDataFrame(batch, schema))


def _footers(table_dir):
    """The distinct part-file footer schemas of a table, each with the
    Spark row metadata that records the writer's schema (nullability
    included)."""
    out = set()
    for f in glob.glob(os.path.join(table_dir, "*.parquet")):
        schema = pq.read_schema(f)
        out.add((schema.remove_metadata(), schema.metadata[
            b"org.apache.spark.sql.parquet.row.metadata"]))
    return out


def test_dedup_index_build_and_match_match_reference_expression(
        spark, tmp_path, monkeypatch):
    index, batch = _corpus(spark)
    new_path, ref_path = str(tmp_path / "new"), str(tmp_path / "ref")
    dedup.write_dedup_index(index, new_path)
    new_pairs = {tuple(r) for r in dedup.dedup_against_index(
        batch, new_path, threshold=0.5, mode="pairs").collect()}
    with monkeypatch.context() as m:
        m.setattr(dedup, "_shingle_sql", _reference_shingle_sql)
        dedup.write_dedup_index(index, ref_path)
        ref_pairs = {tuple(r) for r in dedup.dedup_against_index(
            batch, ref_path, threshold=0.5, mode="pairs").collect()}
    # the planted near-dups (and the blank/short twins) are found
    assert len(ref_pairs) >= 12
    assert new_pairs == ref_pairs
    for table in ("banded", "shingles", "sizes"):
        new = spark.read.parquet(f"{new_path}/{table}")
        ref = spark.read.parquet(f"{ref_path}/{table}")
        assert new.schema == ref.schema, table
        assert new.exceptAll(ref).count() == 0, table
        assert ref.exceptAll(new).count() == 0, table
        assert (_footers(f"{new_path}/{table}")
                == _footers(f"{ref_path}/{table}")), table


# -- plan shape -------------------------------------------------------------

def _lambda_bodies(plan: str) -> list[str]:
    """Every ``lambdafunction(...)`` argument list in a plan string."""
    out = []
    for m in re.finditer(r"lambdafunction\(", plan):
        depth, i = 1, m.end()
        while depth:
            depth += {"(": 1, ")": -1}.get(plan[i], 0)
            i += 1
        out.append(plan[m.end():i - 1])
    return out


def _assert_bound_once(df, *fns: str, passes: int = 1):
    """Each named row-level function occurs ``passes`` times in the
    optimized plan (once per pass over the input) and in no lambda."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    bodies = _lambda_bodies(plan)
    assert bodies, plan
    for fn in fns:
        call = re.compile(rf"\b{fn}\(")
        assert len(call.findall(plan)) == passes, (fn, plan)
        assert not any(call.search(b) for b in bodies), (fn, plan)


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(
        [(1, "one two three four five six seven"),
         (2, "\tone two three four five six eight")],
        "doc_id long, text string")


def test_shingle_array_plan_splits_once(docs):
    _assert_bound_once(
        docs.select(dedup.shingle_array("text").alias("sh")),
        "regexp_replace", "split")


def test_repeated_ngrams_plan_splits_once(docs):
    _assert_bound_once(textops.repeated_ngrams(docs, n=3),
                       "regexp_replace", "split")


def test_remove_repeated_spans_plan_splits_once_per_pass(spark, docs):
    hot = spark.createDataFrame([("one two three",)], "gram string")
    # flag/drop read the words in the gram pass only; trim reads them
    # again in the rebuild, a second pass over the joined rows
    for mode, passes in (("flag", 1), ("drop", 1), ("trim", 2)):
        out = textops.remove_repeated_spans(docs, n=3, mode=mode,
                                            hot_grams=hot)
        _assert_bound_once(out, "regexp_replace", "split",
                           passes=passes)


def test_chunk_documents_plan_splits_once(docs):
    _assert_bound_once(
        textops.chunk_documents(docs, chunk_tokens=3, overlap=1),
        "regexp_replace", "split")


def test_turn_relations_plan_extracts_once(spark):
    turns = spark.createDataFrame(
        [("c1", 0, "t0", "spark reads the table and feeds the stream")],
        "conv_id string, turn_idx int, turn_iri string, text string")
    _assert_bound_once(extract.turn_relations(turns),
                       "regexp_extract_all", "split")


def test_winnow_fingerprints_plan_normalizes_once(docs):
    """One regexp_replace pass over ``text``: the short-text guard sits
    on the posexplode, not in a Filter that the optimizer pushes below
    the normalizing projection."""
    _assert_bound_once(textops.winnow_fingerprints(docs, k=5, window=4),
                       "regexp_replace")
