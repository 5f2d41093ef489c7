"""Storage layout tests: origin-bucket partition pruning + plan checks."""

import pytest

from pyspark.sql import functions as F

from versa_spark import storage
from versa_spark.model import from_quads
from versa_spark.iriref import I


@pytest.fixture(scope="module")
def stored(spark, tmp_path_factory):
    quads = []
    for i in range(200):
        o = I(f"http://x.org/res/{i}")
        quads.append((o, "http://x.org/name", f"name-{i}"))
        quads.append((o, "http://x.org/size", str(i)))
    path = str(tmp_path_factory.mktemp("model") / "links")
    storage.write_model(from_quads(spark, quads), path, n_buckets=16)
    return storage.read_model(spark, path)


def test_roundtrip(spark, stored):
    assert stored.count() == 400
    assert "obucket" in stored.columns


def test_match_stored_prunes_partitions(spark, stored):
    hit = storage.match_stored(stored, origin="http://x.org/res/7",
                               n_buckets=16)
    rows = hit.collect()
    assert {r.target for r in rows} == {"name-7", "7"}
    # partition pruning: the scan must read only 1 of 16 obucket dirs
    plan = hit._jdf.queryExecution().executedPlan().toString()
    import re
    m = re.search(r"partitions read[:=]?\s*(\d+)", plan, re.I)
    if m:
        assert int(m.group(1)) == 1
    else:
        # fall back: PartitionFilters mention obucket
        assert "obucket" in plan


def test_pushed_filters_reach_parquet(spark, stored):
    q = stored.filter(F.col("rel") == "http://x.org/name").select("target")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "rel" in plan
    # column pruning: origin not in ReadSchema
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "target" in read_schema and "origin" not in read_schema


def test_literate_parse_df(spark):
    doc = ("# @docheader\n\n* @iri:\n    * @base: http://example.org/\n\n"
           "# r{i} [Thing]\n\n* name: value {i}\n")
    from versa_spark.serial.literate import parse_df, parse_to_quads
    df = spark.createDataFrame(
        [(doc.replace("{i}", str(i)),) for i in range(10)], "vlit string")
    links = parse_df(df)
    got = {(r.origin, r.rel, r.target) for r in links.collect()}
    local = set()
    for i in range(10):
        quads, _ = parse_to_quads(doc.replace("{i}", str(i)))
        local |= {(str(o), str(r), str(t)) for (o, r, t, _a) in quads}
    assert got == local and len(got) == 20


def test_write_graph_tables(spark, tmp_path):
    from versa_spark.kg.graph import build_graph
    from versa_spark.kg.transcripts import ordered_turns, synthetic_transcripts
    turns = ordered_turns(synthetic_transcripts(spark, n_convs=20,
                                                turns_per_conv=5))
    parts = build_graph(spark, turns)
    base = str(tmp_path / "kg")
    paths = storage.write_graph_tables(parts["graph"], parts["edges"], base,
                                       n_buckets=8)
    g = spark.read.parquet(paths["graph"])
    e = spark.read.parquet(paths["edges"])
    assert g.count() == parts["graph"].count() > 100
    assert e.count() == parts["edges"].count() > 100
    assert "obucket" in g.columns and "sbucket" in e.columns
    # both tables bucket with the same hash → co-partitioned traversal
    assert g.select("obucket").distinct().count() <= 8
    assert e.select("sbucket").distinct().count() <= 8
    with pytest.raises(NotImplementedError):
        storage.write_graph_tables(parts["graph"], parts["edges"], base,
                                   fmt="iceberg")


def test_iceberg_ddl_spells_the_layout():
    """The emitted production DDL encodes exactly the tested physical
    properties: bucket partitioning on the lookup key, ordered writes on
    (key, rel), hash write distribution."""
    for kind, key in (("graph", "origin"), ("edges", "src"),
                      ("transcripts", "conv_id")):
        create, order = storage.iceberg_ddl(f"kg.{kind}", 128, kind)
        assert f"PARTITIONED BY (bucket(128, {key}))" in create
        assert "'write.distribution-mode'='hash'" in create
        assert "USING iceberg" in create
        assert order.startswith(f"ALTER TABLE kg.{kind} WRITE ORDERED BY")
    with pytest.raises(ValueError):
        storage.iceberg_ddl(kind="nope")


def test_match_stored_reads_writer_bucket_count(tmp_path, spark):
    """A reader with a mismatched n_buckets computes the wrong bucket and
    silently prunes the data away — the layout sidecar prevents it."""
    from versa_spark import storage
    from versa_spark.model import from_quads
    from versa_spark.iriref import I
    df = from_quads(spark, [
        (I(f"http://x/o{i}"), I("http://x/r"), f"t{i}", {})
        for i in range(20)])
    path = str(tmp_path / "m32")
    storage.write_model(df, path, n_buckets=32)
    assert storage.stored_n_buckets(path) == 32
    model = storage.read_model(spark, path)
    # wrong explicit n_buckets + path → sidecar wins → correct rows
    out = storage.match_stored(model, origin="http://x/o7",
                               n_buckets=64, path=path)
    assert out.count() == 1
    # falsy origin is a wildcard (ops.match truthiness), not a bucket key
    assert storage.match_stored(model, origin="", path=path).count() == 20
    # absent sidecar (pre-sidecar table) degrades to None…
    assert storage.stored_n_buckets(str(tmp_path / "nowhere"),
                                    spark) is None
    # …but a CORRUPT sidecar raises instead of silently disabling the
    # wrong-bucket-count guard
    import os
    with open(os.path.join(path, "_versa_layout.json"), "w") as f:
        f.write("not json")
    with pytest.raises(Exception):
        storage.stored_n_buckets(path, spark)
