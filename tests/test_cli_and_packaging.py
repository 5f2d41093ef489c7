"""CLI (parse/transform) and spark-submit --py-files packaging tests —
the deployment target of BASELINE.md."""

import os
import subprocess
import sys
import textwrap

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

VLIT_DOC = """\
# @docheader

* @iri:
    * @base: http://example.org/classics/
    * @schema: https://schema.org/

# catcher [Book]

* name: The Catcher in the Rye
* author: J. D. Salinger
* isbn: 0316769487
"""

RULESPEC = """\
SCH = I('https://schema.org/')
BF = I('http://bibfra.me/')

VERSA_PIPELINE_ENTRY = generic_pipeline(
    {SCH('Book'): materialize(BF('Instance'),
                              fprint=[(BF('isbn'), follow(SCH('isbn')))])},
    {SCH('name'): link(rel=BF('name'))},
    {BF('Instance'): follow(BF('name'))},
)
"""


def run_cli(args):
    env = dict(os.environ)
    env["PYTHONPATH"] = REPO + os.pathsep + env.get("PYTHONPATH", "")
    return subprocess.run(
        [sys.executable, "-m", "versa_spark.cli", *args],
        capture_output=True, text=True, env=env, timeout=120)


def test_cli_parse_to_ntriples(tmp_path):
    src = tmp_path / "doc.md"
    src.write_text(VLIT_DOC)
    out = run_cli(["parse", str(src), "--out-fmt", "nt"])
    assert out.returncode == 0, out.stderr
    assert ('<http://example.org/classics/catcher> '
            '<https://schema.org/name> "The Catcher in the Rye" .'
            in out.stdout)


def test_cli_transform_with_rulespec(tmp_path):
    src = tmp_path / "doc.md"
    src.write_text(VLIT_DOC)
    spec = tmp_path / "rules.py"
    spec.write_text(RULESPEC)
    out = run_cli(["transform", str(spec), str(src), "--out-fmt", "nt"])
    assert out.returncode == 0, out.stderr
    # fingerprinted Instance + name link + label
    assert "http://bibfra.me/Instance" in out.stdout
    assert '"The Catcher in the Rye"' in out.stdout


def test_cli_json_roundtrip(tmp_path):
    src = tmp_path / "doc.md"
    src.write_text(VLIT_DOC)
    j = tmp_path / "doc.json"
    out = run_cli(["parse", str(src), "--out", str(j),
                   "--out-fmt", "json"])
    assert out.returncode == 0, out.stderr
    out2 = run_cli(["parse", str(j), "--in-fmt", "json",
                    "--out-fmt", "nt"])
    assert out2.returncode == 0, out2.stderr
    assert '"The Catcher in the Rye"' in out2.stdout


SUBMIT_JOB = """\
import sys
from pyspark.sql import SparkSession
# versa_spark comes ONLY from the --py-files zip
from versa_spark.kg.graph import build_graph
from versa_spark.kg.transcripts import ordered_turns, synthetic_transcripts

spark = SparkSession.builder.getOrCreate()
tx = synthetic_transcripts(spark, n_convs=20, turns_per_conv=5)
n = build_graph(spark, ordered_turns(tx))["graph"].count()
print(f"GRAPH_TRIPLES={n}")
spark.stop()
"""


@pytest.mark.slow
def test_spark_submit_py_files(tmp_path):
    """The north rule's deployment shape: spark-submit --py-files
    versa_spark.zip job.py, with the package NOT importable from cwd."""
    from versa_spark.shipping import package_zip
    zpath = package_zip(str(tmp_path))
    job = tmp_path / "job.py"
    job.write_text(SUBMIT_JOB)
    spark_submit = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"),
                                "bin", "spark-submit")
    if not os.path.exists(spark_submit):
        pytest.skip("spark-submit not on this machine")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [spark_submit, "--master", "local[4]",
         "--conf", "spark.ui.enabled=false",
         "--py-files", zpath, str(job)],
        capture_output=True, text=True, env=env, cwd=str(tmp_path),
        timeout=420)
    assert out.returncode == 0, out.stderr[-3000:]
    assert "GRAPH_TRIPLES=" in out.stdout
    n = int(out.stdout.split("GRAPH_TRIPLES=")[1].split()[0])
    assert n > 100


@pytest.mark.slow
def test_spark_submit_kg_job_gazetteer(tmp_path, spark):
    """The production job entry (versa_spark.jobs kg) through real
    spark-submit --py-files with --detect dictionary: the gazetteer
    parquet drives detection, the checkpointed job completes, metrics
    come back as one JSON line."""
    import json
    from versa_spark.kg.extract import synthetic_big_dictionary
    from versa_spark.shipping import package_zip
    spark_submit = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"),
                                "bin", "spark-submit")
    if not os.path.exists(spark_submit):
        pytest.skip("spark-submit not on this machine")
    dict_path = str(tmp_path / "gazetteer")
    synthetic_big_dictionary(spark, n_pad=1000).write.parquet(dict_path)
    zpath = package_zip(str(tmp_path))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [spark_submit, "--master", "local[4]",
         "--conf", "spark.ui.enabled=false",
         "--py-files", zpath, os.path.join(REPO, "versa_spark", "jobs.py"),
         "kg", "--synthetic-turns", "2000",
         "--workdir", str(tmp_path / "wd"),
         "--dictionary", dict_path, "--detect", "dictionary"],
        capture_output=True, text=True, env=env, cwd=str(tmp_path),
        timeout=420)
    assert out.returncode == 0, out.stderr[-3000:]
    rec = json.loads(out.stdout.strip().splitlines()[-1])
    assert rec["graph_rows"] > 1000
    assert rec["metrics"]["mentions"]["rows"] > 0


def test_cli_dedup_and_sessionize(tmp_path, spark):
    """The data-op subcommands run end-to-end: parquet in → op → parquet
    out (same-process main(), not a subprocess, to reuse the session)."""
    from pyspark.sql import functions as F
    from versa_spark import cli
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .limit(30).select("doc_id", "text"))
    both = docs.unionByName(docs.select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.concat("text", F.lit(" y")).alias("text")))
    src = str(tmp_path / "docs_in"); both.write.parquet(src)
    out = str(tmp_path / "docs_out")
    rc = cli.main(["dedup", src, out, "--threshold", "0.7",
                   "--cpus", "4"])
    assert rc == 0
    kept = spark.read.parquet(out)
    assert 0 < kept.count() < 60 and set(kept.columns) == {"doc_id", "text"}

    ev_src = "/root/testdata/sf0.001/events.parquet"
    ev_out = str(tmp_path / "sessions_out")
    rc = cli.main(["sessionize", ev_src, ev_out, "--gap-minutes", "30",
                   "--cpus", "4"])
    assert rc == 0
    sess = spark.read.parquet(ev_out)
    assert sess.count() > 0 and "session_id" in sess.columns


def test_cli_mediameta(tmp_path, spark):
    """mediameta subcommand: real-format payloads in parquet → decoded
    metadata parquet via the numpy-only PGM/WAV parsers."""
    from versa_spark import cli, multimodal
    media = multimodal.synthetic_codec_media(
        spark, "/root/testdata/sf0.001", limit=24)
    src = str(tmp_path / "media_in"); media.write.parquet(src)
    out = str(tmp_path / "media_out")
    assert cli.main(["mediameta", src, out, "--cpus", "4"]) == 0
    meta = spark.read.parquet(out)
    assert meta.count() == 24
    kinds = {r.kind for r in meta.collect()}
    assert kinds == {"image", "audio"}
    assert "mean_value" in meta.columns


def test_cli_graphstats(tmp_path, spark):
    """graphstats over a small linked-mentions parquet writes the three
    analytics outputs with consistent shapes."""
    from versa_spark import cli
    linked = spark.createDataFrame(
        [("c", 0, "A"), ("c", 0, "B"), ("c", 1, "A"), ("c", 1, "C"),
         ("d", 0, "B"), ("d", 0, "C"), ("d", 1, "A"), ("d", 1, "B")],
        "conv_id string, turn_idx int, entity_iri string")
    src = str(tmp_path / "linked_in"); linked.write.parquet(src)
    out = str(tmp_path / "stats_out")
    rc = cli.main(["graphstats", src, out, "--iterations", "2",
                   "--cpus", "4"])
    assert rc == 0
    pmi = spark.read.parquet(f"{out}/cooccur")
    assert set(pmi.columns) == {"a", "b", "n_ab", "n_a", "n_b", "pmi"}
    assert pmi.count() == 3        # AB, AC, BC
    pr = spark.read.parquet(f"{out}/pagerank")
    assert pr.count() == 3 and abs(
        sum(r.rank for r in pr.collect()) - 1.0) < 2e-6   # ranks round 6dp
    tri = spark.read.parquet(f"{out}/triangles").collect()[0]
    assert tri.n_triangles == 1    # A-B-C all co-occur pairwise


def test_cli_graphstats_sets_shape(tmp_path, spark):
    """graphstats auto-routes a sets-shaped parquet (per-turn `ents`
    array) through cooccurrence_pmi_from_sets — same outputs as the
    equivalent mention-row input."""
    from versa_spark import cli
    sets = spark.createDataFrame(
        [("c", 0, ["A", "B"]), ("c", 1, ["A", "C"]),
         ("d", 0, ["B", "C"]), ("d", 1, ["A", "B"])],
        "conv_id string, turn_idx int, ents array<string>")
    src = str(tmp_path / "sets_in"); sets.write.parquet(src)
    out = str(tmp_path / "stats_out2")
    rc = cli.main(["graphstats", src, out, "--iterations", "2",
                   "--cpus", "4"])
    assert rc == 0
    pmi = {(r.a, r.b): r.n_ab for r in
           spark.read.parquet(f"{out}/cooccur").collect()}
    assert pmi == {("A", "B"): 2, ("A", "C"): 1, ("B", "C"): 1}
    tri = spark.read.parquet(f"{out}/triangles").collect()[0]
    assert tri.n_triangles == 1


def test_cli_decontaminate(tmp_path, spark):
    """The decontaminate subcommand runs both recipes end-to-end: exact
    13-gram removal and --fuzzy near-dup flagging/pairs."""
    from pyspark.sql import functions as F
    from versa_spark import cli
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .limit(30).select("doc_id", "text"))
    bench = (docs.filter(F.col("doc_id") % 5 == 0)
             .select((F.col("doc_id") + 1000).alias("doc_id"),
                     F.concat("text", F.lit(" tail")).alias("text")))
    src = str(tmp_path / "corpus_in"); docs.write.parquet(src)
    bsrc = str(tmp_path / "bench_in"); bench.write.parquet(bsrc)

    out = str(tmp_path / "fuzzy_pairs")
    rc = cli.main(["decontaminate", src, bsrc, out, "--fuzzy",
                   "--mode", "pairs", "--cpus", "4"])
    assert rc == 0
    pairs = spark.read.parquet(out)
    n_bench = bench.count()
    assert pairs.count() == n_bench
    assert set(pairs.columns) == {"corpus_id", "bench_id", "jaccard"}

    out2 = str(tmp_path / "exact_removed")
    rc = cli.main(["decontaminate", src, bsrc, out2, "--cpus", "4"])
    assert rc == 0
    kept = spark.read.parquet(out2)
    # every bench doc shares its (long) source doc's 13-grams
    assert kept.count() == docs.count() - n_bench

    # exact-mode has no pair artifact: --mode pairs without --fuzzy is a
    # usage error up front (argparse exit 2), not a mid-job traceback
    with pytest.raises(SystemExit) as exc:
        cli.main(["decontaminate", src, bsrc,
                  str(tmp_path / "never"), "--mode", "pairs"])
    assert exc.value.code == 2


def test_cli_dedupindex_and_dedup_against(tmp_path, spark):
    """dedupindex builds the persistent LSH index; dedup --index removes
    batch docs that near-dup indexed ones."""
    from pyspark.sql import functions as F
    from versa_spark import cli
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .limit(20).select("doc_id", "text"))
    src = str(tmp_path / "corpus"); docs.write.parquet(src)
    ix = str(tmp_path / "ix")
    rc = cli.main(["dedupindex", src, ix, "--cpus", "4"])
    assert rc == 0
    assert spark.read.parquet(f"{ix}/sizes").count() == 20

    batch = (docs.limit(5)
             .select((F.col("doc_id") + 900).alias("doc_id"),
                     F.concat("text", F.lit(" tail")).alias("text"))
             .unionByName(spark.createDataFrame(
                 [(999, " ".join(f"fresh{i}" for i in range(30)))],
                 ["doc_id", "text"])))
    bsrc = str(tmp_path / "batch"); batch.write.parquet(bsrc)
    out = str(tmp_path / "kept")
    rc = cli.main(["dedup", bsrc, out, "--index", ix, "--cpus", "4"])
    assert rc == 0
    kept = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert 999 in kept and len(kept) < 6


def test_cli_annindex_and_annquery(tmp_path, spark):
    """annindex builds the persisted IVF index; annquery top-k's a query
    parquet against it (self-queries rank themselves first)."""
    from versa_spark import cli
    emb = (spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
           .limit(60).select("vec_id", "embedding"))
    src = str(tmp_path / "vecs"); emb.write.parquet(src)
    ix = str(tmp_path / "annix")
    rc = cli.main(["annindex", src, ix, "--cells", "4", "--cpus", "4"])
    assert rc == 0
    qsrc = str(tmp_path / "qs")
    emb.limit(3).write.parquet(qsrc)
    out = str(tmp_path / "topk")
    rc = cli.main(["annquery", qsrc, ix, out, "--k", "2",
                   "--nprobe", "2", "--cpus", "4"])
    assert rc == 0
    rows = spark.read.parquet(out).collect()
    top1 = {r.q_id: r.vec_id for r in rows if r.rank == 1}
    assert len(top1) == 3 and all(q == v for q, v in top1.items())


def test_cli_graphstats_kcore_and_landmarks(tmp_path, spark):
    """graphstats --k-core and --landmarks write the extra outputs."""
    from versa_spark import cli
    sets = spark.createDataFrame(
        [("c", 0, ["A", "B"]), ("c", 1, ["A", "C"]),
         ("d", 0, ["B", "C"]), ("d", 1, ["A", "D"])],
        "conv_id string, turn_idx int, ents array<string>")
    src = str(tmp_path / "sets_in3"); sets.write.parquet(src)
    out = str(tmp_path / "stats_out3")
    rc = cli.main(["graphstats", src, out, "--iterations", "1",
                   "--k-core", "2", "--landmarks", "A,D",
                   "--cpus", "4"])
    assert rc == 0
    core = {r.node for r in
            spark.read.parquet(f"{out}/kcore").collect()}
    assert core == {"A", "B", "C"}        # D is a pendant off A
    sp = {(r.node, r.landmark): r.dist for r in
          spark.read.parquet(f"{out}/shortest_paths").collect()}
    assert sp[("A", "A")] == 0 and sp[("D", "A")] == 1
    assert sp[("B", "D")] == 2 and sp[("C", "D")] == 2


def test_cli_aliases(tmp_path, spark):
    """The aliases subcommand induces a dictionary parquet usable as a
    gazetteer: variant surfaces share a canonical + entity_iri."""
    from versa_spark import cli
    rows = [("Spark",)] * 3 + [("spark",)] * 2 + [("sparks",)] \
        + [("Kafka",)]
    src = str(tmp_path / "mentions_in")
    spark.createDataFrame(rows, ["surface"]).write.parquet(src)
    out = str(tmp_path / "dict_out")
    assert cli.main(["aliases", src, out, "--cpus", "4"]) == 0
    d = {r.surface: (r.canonical, r.entity_iri)
         for r in spark.read.parquet(out).collect()}
    assert d["Spark"] == d["spark"] == d["sparks"]
    assert d["Kafka"][0] == "Kafka" and d["Kafka"] != d["Spark"]
    assert set(spark.read.parquet(out).columns) >= {
        "surface", "canonical", "entity_iri"}


def test_unsupervised_kg_pipeline_composition(tmp_path, spark):
    """The self-supervised gazetteer workflow end-to-end, in-process:
    extract mention surfaces → cli aliases induces a dictionary →
    KGJob(detect='dictionary') builds the graph with it.  Variant
    surfaces resolve to one entity in the final triples."""
    from versa_spark import cli
    from versa_spark.kg.job import KGJob
    rows = []
    for c in range(10):
        rows.append((f"conv-{c}", 0, "user",
                     "We Benchmarked ApacheSpark today", None, None))
        rows.append((f"conv-{c}", 1, "user",
                     "apachespark and apachesparks hold up", None, None))
    tx = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string,"
              " tool string, ts timestamp")
    # surface rows as an upstream extractor would hand them over —
    # ORIGINAL case preserved: detection is deliberately exact-match,
    # and it is the induced dictionary that folds case variants
    # ('ApacheSpark' and 'apachespark' are two surfaces, one canonical)
    import pyspark.sql.functions as F
    surf = tx.select(F.explode(F.split("text", r"\s+"))
                     .alias("surface")).filter(
        F.lower("surface").startswith("apachespark"))
    src = str(tmp_path / "surfaces"); surf.write.parquet(src)
    dict_out = str(tmp_path / "induced_dict")
    assert cli.main(["aliases", src, dict_out, "--cpus", "4"]) == 0

    job = KGJob(spark, str(tmp_path / "wd"),
                dictionary=spark.read.parquet(dict_out)
                .select("surface", "canonical", "entity_iri"),
                detect="dictionary")
    out = job.run(tx, input_fingerprint="v1")
    ents = {r.entity_iri for r in out["mentions"]
            .select("entity_iri").distinct().collect()}
    assert len(ents) == 1            # all variants linked to ONE entity
    assert out["mentions"].count() == 30   # every variant mention found
    surfaces = {r.surface for r in out["mentions"]
                .select("surface").distinct().collect()}
    assert surfaces == {"ApacheSpark", "apachespark", "apachesparks"}
