"""Structured Streaming: foreachBatch KG ingestion + watermarked windowed
aggregation. Uses availableNow triggers so tests terminate."""

import pytest

from pyspark.sql import functions as F

from versa_spark import streaming
from versa_spark.kg.transcripts import synthetic_transcripts


@pytest.fixture()
def input_dir(spark, tmp_path):
    d = str(tmp_path / "in")
    tx = synthetic_transcripts(spark, n_convs=40, turns_per_conv=10)
    tx.write.mode("overwrite").parquet(d)
    return d


def test_streaming_windowed_mention_counts(spark, input_dir):
    agg = streaming.streaming_mention_counts(spark, input_dir,
                                             window="10 minutes")
    q = (agg.writeStream.outputMode("complete")
         .format("memory").queryName("mention_counts")
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    rows = spark.sql("SELECT * FROM mention_counts").collect()
    assert rows
    # the micro-batch plan runs no Python: extraction is the JVM scan
    plan = (q._jsq.streamingQuery().lastExecution().executedPlan()
            .toString())
    assert "StateStoreSave" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # equals the batch groupBy on the same derivation
    from versa_spark.kg import extract, linking
    batch = (spark.read.parquet(input_dir)
             .withColumn("surface",
                         F.explode(extract.mention_surfaces_col("text")))
             .join(F.broadcast(linking.canonical_dictionary(spark)),
                   "surface")
             .groupBy(F.window("ts", "10 minutes"), F.col("entity_iri"))
             .agg(F.count("*").alias("n_mentions")))
    b = {(str(r["window"].start), r.entity_iri, r.n_mentions)
         for r in batch.collect()}
    s = {(str(r.win_start), r.entity_iri, r.n_mentions) for r in rows}
    assert s == b


def test_stateful_conversation_sessions(spark, tmp_path):
    """applyInPandasWithState accumulates per-conversation state across
    micro-batches; the final emitted totals equal the batch groupBy.
    One turn has non-ASCII word-boundary neighbours (a combining mark, a
    superscript digit, a zero-width joiner), counted by Python's rule."""
    d = str(tmp_path / "in2")
    tx = synthetic_transcripts(spark, n_convs=20, turns_per_conv=8)
    first = tx.orderBy("conv_id", "turn_idx").first()
    tx = tx.withColumn("text", F.when(
        (F.col("conv_id") == first.conv_id) & (F.col("turn_idx") == 0),
        F.lit("spark\u0301 join spark\u00b2 table\u200djoin"))
        .otherwise(F.col("text")))
    # two file chunks → at least two micro-batches (maxFilesPerTrigger=1)
    tx.filter(F.col("turn_idx") < 4).coalesce(1).write.mode(
        "overwrite").parquet(d)
    tx.filter(F.col("turn_idx") >= 4).coalesce(1).write.mode(
        "append").parquet(d)

    from versa_spark.streaming import streaming_conversation_state
    out = streaming_conversation_state(spark, d, max_files_per_trigger=1)
    q = (out.writeStream.outputMode("update")
         .format("memory").queryName("conv_state")
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    rows = spark.sql("SELECT * FROM conv_state").collect()
    # last emission per conversation = totals
    final = {}
    for r in rows:
        cur = final.get(r.conv_id)
        if cur is None or r.n_turns >= cur.n_turns:
            final[r.conv_id] = r
    assert len(final) == 20
    assert all(r.n_turns == 8 and r.last_turn_idx == 7
               for r in final.values())

    import re
    from versa_spark.kg.extract import _MENTION_PAT
    pat = re.compile(_MENTION_PAT)
    expect = {}
    for r in tx.collect():
        expect[r.conv_id] = expect.get(r.conv_id, 0) + len(
            pat.findall(r.text or ""))
    assert {k: v.n_mentions for k, v in final.items()} == expect


def test_streaming_dedup_turns(spark, tmp_path):
    """dropDuplicatesWithinWatermark removes replayed rows inside the
    watermark (at-least-once upstream delivery made safe)."""
    d = str(tmp_path / "dup_in")
    tx = synthetic_transcripts(spark, n_convs=10, turns_per_conv=5)
    tx.write.mode("overwrite").parquet(d)
    tx.write.mode("append").parquet(d)       # replay: every row twice
    assert spark.read.parquet(d).count() == 100
    deduped = streaming.streaming_dedup_turns(spark, d)
    q = (deduped.writeStream.format("memory").queryName("dedup_turns")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)
    got = spark.sql("SELECT conv_id, turn_idx FROM dedup_turns")
    assert got.count() == 50
    assert got.distinct().count() == 50


def test_streaming_nt_ingest(spark, tmp_path):
    """NTriples file-drop stream → quads: parse parity with the batch
    parser, replayed lines deduped within the ingest watermark
    (SURVEY §2.11 closed end-to-end for the serializer surface)."""
    import os
    from versa_spark.serial.ntriples import parse_df
    d = str(tmp_path / "nt_in")
    os.makedirs(d)
    lines = [
        '<http://ex.org/a> <http://ex.org/rel> <http://ex.org/b> .',
        '<http://ex.org/a> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type>'
        ' <http://ex.org/T> .',
        '<http://ex.org/b> <http://ex.org/name> "Bee" .',
        'garbage line that must be skipped',
    ]
    with open(os.path.join(d, "part1.nt"), "w") as f:
        f.write("\n".join(lines) + "\n")
    # replay drop: same quads again plus one new one
    with open(os.path.join(d, "part2.nt"), "w") as f:
        f.write("\n".join(lines[:2]) + "\n")
        f.write('<http://ex.org/c> <http://ex.org/name> "Sea" .\n')

    q = (streaming.streaming_nt_ingest(spark, d)
         .writeStream.format("memory").queryName("nt_quads")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)
    got = {(r.origin, r.rel, r.target, r.t_iri) for r in
           spark.sql("SELECT * FROM nt_quads").collect()}
    batch = {(r.origin, r.rel, r.target, r.t_iri) for r in
             parse_df(spark, spark.read.text(d)).collect()}
    assert got == batch and len(got) == 4
    # rdf:type remapped to the versa type rel
    assert any(r[1].endswith("versa/type") for r in got)


def test_streaming_event_rollup_matches_batch(spark, tmp_path):
    """Batch/streaming parity: the streaming tumbling-window rollup
    equals events.windowed_rollup on the same files, column for column
    (epoch-aligned F.window == integer bucket arithmetic)."""
    from versa_spark.events import windowed_rollup
    from versa_spark.streaming import streaming_event_rollup

    d = str(tmp_path / "events_in")
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    (ev.select("event_id", "ts", "user_id", "event_type", "value",
               "props").coalesce(2).write.parquet(d))

    q = (streaming_event_rollup(spark, d, bucket_s=3600)
         .writeStream.outputMode("complete")
         .format("memory").queryName("ev_rollup")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = sorted(map(tuple, spark.sql(
        "SELECT bucket_us, event_type, n_events, value_sum "
        "FROM ev_rollup").collect()))
    want = sorted(map(tuple, windowed_rollup(ev, bucket_s=3600)
                      .select("bucket_us", "event_type", "n_events",
                              "value_sum").collect()))
    assert got == want and len(got) > 10


def test_stream_dedup_ingest(spark, tmp_path):
    """Streaming ingestion dedups each micro-batch within itself AND
    against the persistent LSH index; survivors equal the batch
    composition of the same two ops, and a checkpoint restart adds
    nothing."""
    from versa_spark import dedup

    base = [" ".join(f"w{d}_{i}" for i in range(30)) for d in range(8)]
    corpus = spark.createDataFrame(
        list(enumerate(base)), ["doc_id", "text"])
    ix = str(tmp_path / "ix")
    dedup.write_dedup_index(corpus, ix)

    # incoming batch: 2 near-dups of indexed docs, 1 in-batch dup pair,
    # 2 fresh docs
    rows = [(100, base[0] + " tail"),          # dup of indexed 0
            (101, base[3] + " tail"),          # dup of indexed 3
            (102, "fresh doc " + " ".join(f"f{i}" for i in range(28))),
            (103, "fresh doc " + " ".join(f"f{i}" for i in range(28))
             + " x"),                          # in-batch dup of 102
            (104, " ".join(f"g{i}" for i in range(30)))]
    batch = spark.createDataFrame(rows, ["doc_id", "text"])
    src = str(tmp_path / "in")
    batch.write.parquet(src)

    out = str(tmp_path / "kept")
    ckpt = str(tmp_path / "ckpt")
    q = streaming.stream_dedup_ingest(spark, src, ix, out, ckpt)
    q.awaitTermination(300)
    kept = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert kept == {102, 104}   # 100/101 match index; 103 loses to 102

    # equals the batch composition of the same ops
    ref = dedup.dedup_against_index(
        dedup.dedup_corpus(batch), ix)
    assert {r.doc_id for r in ref.collect()} == kept

    # restart on the same checkpoint: nothing re-processed or duplicated
    q2 = streaming.stream_dedup_ingest(spark, src, ix, out, ckpt)
    q2.awaitTermination(300)
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == kept

    # a fresh checkpoint over the same input replays epoch 0 (the
    # foreachBatch replay case): the write overwrites the epoch
    # partition instead of appending a second copy
    q3 = streaming.stream_dedup_ingest(spark, src, ix, out,
                                       str(tmp_path / "ckpt2"))
    q3.awaitTermination(300)
    assert sorted(r.doc_id for r in spark.read.parquet(out).collect()
                  ) == sorted(kept)


# -- streaming incremental KG growth (stream_kg_job) ---------------------

@pytest.fixture()
def conv_bundle_dir(spark, tmp_path):
    """Transcripts as three conversation-atomic parquet FILES (each file
    holds whole conversations, disjoint across files) so
    maxFilesPerTrigger=1 yields one micro-batch per file."""
    import os
    import shutil
    tx = synthetic_transcripts(spark, n_convs=30, turns_per_conv=8)
    conv_no = F.substring_index("conv_id", "-", -1).cast("int")
    d = str(tmp_path / "bundles")
    os.makedirs(d)
    for i, (lo, hi) in enumerate([(0, 10), (10, 20), (20, 30)]):
        part_dir = str(tmp_path / f"_part{i}")
        (tx.filter((conv_no >= lo) & (conv_no < hi))
           .coalesce(1).write.mode("overwrite").parquet(part_dir))
        part = next(f for f in os.listdir(part_dir)
                    if f.endswith(".parquet"))
        shutil.move(os.path.join(part_dir, part),
                    os.path.join(d, f"bundle{i}.parquet"))
        shutil.rmtree(part_dir)
    return d


def _graph_triples(df):
    return {(r.origin, r.rel, r.target)
            for r in df.select("origin", "rel", "target").collect()}


def test_stream_kg_job_grows_workdir(spark, tmp_path, conv_bundle_dir):
    """Three one-file epochs = bootstrap run() + two append_batch;
    the combined table() must equal the batch build over all input."""
    from versa_spark.kg.graph import build_graph
    from versa_spark.kg.job import KGJob
    from versa_spark.kg.transcripts import ordered_turns
    wd = str(tmp_path / "wd")
    ckpt = str(tmp_path / "ckpt")
    q = streaming.stream_kg_job(spark, conv_bundle_dir, wd, ckpt,
                                max_files_per_trigger=1)
    q.awaitTermination(300)
    job = KGJob(spark, wd)
    assert sorted(job.batch_ids()) == ["epoch-1", "epoch-2"]
    got = _graph_triples(job.table("graph"))
    batch = build_graph(spark, ordered_turns(
        spark.read.parquet(conv_bundle_dir)))["graph"]
    want = _graph_triples(batch)
    assert got == want and len(got) > 500
    # count equality too: set equality alone would mask duplicate rows
    assert job.table("graph").count() == len(got)
    # stats roll up exactly across base + batches
    es = {(r.entity_iri): r.n_mentions
          for r in job.table("entity_stats").collect()}
    assert sum(es.values()) > 0


def test_stream_kg_job_restart_replays_without_duplicates(
        spark, tmp_path, conv_bundle_dir):
    """Crash between append_batch's commit and the streaming checkpoint:
    the replayed epoch re-enters append_batch with the same batch_id +
    fingerprint and must resume (not duplicate).  Also covers the
    bootstrap replay hole (base built from epoch E, E re-delivered)."""
    import os
    import shutil
    from versa_spark.kg.job import KGJob
    wd = str(tmp_path / "wd")
    ckpt = str(tmp_path / "ckpt")
    q = streaming.stream_kg_job(spark, conv_bundle_dir, wd, ckpt,
                                max_files_per_trigger=1)
    q.awaitTermination(300)
    job = KGJob(spark, wd)
    n = job.table("graph").count()
    triples = _graph_triples(job.table("graph"))

    ckpt2 = str(tmp_path / "ckpt-crashed")
    shutil.copytree(ckpt, ckpt2)
    commits = sorted(f for f in os.listdir(os.path.join(ckpt2, "commits"))
                     if not f.startswith("."))
    os.remove(os.path.join(ckpt2, "commits", commits[-1]))
    crc = os.path.join(ckpt2, "commits", f".{commits[-1]}.crc")
    if os.path.exists(crc):
        os.remove(crc)

    q2 = streaming.stream_kg_job(spark, conv_bundle_dir, wd, ckpt2,
                                 max_files_per_trigger=1)
    q2.awaitTermination(300)
    assert any(p["numInputRows"] > 0 for p in q2.recentProgress)
    job2 = KGJob(spark, wd)
    assert job2.table("graph").count() == n
    assert _graph_triples(job2.table("graph")) == triples


def test_stream_graph_detect_dictionary(spark, tmp_path, conv_bundle_dir):
    """Streaming ingest runs the large-gazetteer detection path:
    stream_kg_job(detect='dictionary') grows the workdir one epoch per
    file, and the combined graph equals one KGJob run over all of the
    input, with no duplicate rows (each entity's type/label links and
    each conversation's type link are written once across epochs)."""
    from versa_spark.kg import extract
    from versa_spark.kg.job import KGJob
    bd = extract.synthetic_big_dictionary(spark, n_pad=500)
    wd = str(tmp_path / "wd_bd")
    q = streaming.stream_kg_job(spark, conv_bundle_dir, wd,
                                str(tmp_path / "ckpt_bd"), dictionary=bd,
                                detect="dictionary", max_files_per_trigger=1)
    q.awaitTermination(300)
    job = KGJob(spark, wd)
    assert sorted(job.batch_ids()) == ["epoch-1", "epoch-2"]
    want = _graph_triples(KGJob(
        spark, str(tmp_path / "full_bd"), dictionary=bd,
        detect="dictionary").run(spark.read.parquet(conv_bundle_dir))["graph"])
    got = job.table("graph")
    assert _graph_triples(got) == want and len(want) > 500
    assert got.count() == len(want)


def test_stream_kg_job_relations_dedupe_across_epochs(spark, tmp_path):
    """relations passthrough: a relation re-asserted by a later epoch's
    conversations stays a SINGLE graph row (the delta-ed relations
    stage discipline, now under streaming epochs)."""
    import os
    import shutil
    from versa_spark.kg.job import KGJob
    rows = [(f"conv-{c}", 0, "user", "spark reads the table here",
             None, None) for c in range(8)]
    tx = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string,"
              " tool string, ts timestamp")
    conv_no = F.substring_index("conv_id", "-", -1).cast("int")
    d = str(tmp_path / "in")
    os.makedirs(d)
    for i, (lo, hi) in enumerate([(0, 4), (4, 8)]):
        pd_ = str(tmp_path / f"_p{i}")
        (tx.filter((conv_no >= lo) & (conv_no < hi))
           .coalesce(1).write.parquet(pd_))
        part = next(f for f in os.listdir(pd_) if f.endswith(".parquet"))
        shutil.move(os.path.join(pd_, part),
                    os.path.join(d, f"b{i}.parquet"))
    wd = str(tmp_path / "wd")
    q = streaming.stream_kg_job(spark, d, wd, str(tmp_path / "ck"),
                                relations=("reads",),
                                max_files_per_trigger=1)
    q.awaitTermination(300)
    job = KGJob(spark, wd, relations=("reads",))
    rel = job.table("graph").filter(F.col("rel").contains("v/rel/"))
    assert rel.count() == 1            # deduped across the two epochs
    assert job._read_committed("relations@epoch-1").count() == 0
