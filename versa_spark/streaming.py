"""Structured Streaming ingestion: transcripts stream → KG job growth.

The reference is batch-only (SURVEY.md §2.11); its closest analogue is the
generator-based incremental parse (serial/csv.py:44-106).  Here the same
per-batch design runs on Structured Streaming:

* ``stream_kg_job`` — file-source stream of transcript parquet →
  ``foreachBatch``: each micro-batch grows a checkpointed ``KGJob``
  workdir (one code path for batch and streaming — the foreachBatch
  pattern), with the job's per-stage lineage manifest and resume.
  Turn ordering inside a batch uses the same window rank; cross-batch
  ordering is by delivery (streaming can't sort the unbounded future).
* ``streaming_mention_counts`` — native streaming aggregation: watermarked
  event-time windows over mention events (late data bounded by the
  watermark), demonstrating watermark + windowed aggs per the engine
  checklist.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    DoubleType, IntegerType, LongType, StringType, StructField,
    StructType, TimestampType,
)

TRANSCRIPT_SCHEMA = StructType([
    StructField("conv_id", StringType(), False),
    StructField("turn_idx", IntegerType(), False),
    StructField("role", StringType(), True),
    StructField("text", StringType(), True),
    StructField("tool", StringType(), True),
    StructField("ts", TimestampType(), True),
])


def read_transcript_stream(spark: SparkSession, input_dir: str,
                           max_files_per_trigger: int = 16) -> DataFrame:
    return (spark.readStream
            .schema(TRANSCRIPT_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(input_dir))


def stream_kg_job(spark: SparkSession, input_dir: str, workdir: str,
                  checkpoint_dir: str, available_now: bool = True,
                  on_existing: str = "error",
                  dictionary: DataFrame | None = None,
                  detect: str = "lexicon",
                  relations: tuple[str, ...] | None = None,
                  max_files_per_trigger: int = 16):
    """Streaming incremental KG construction: each micro-batch of
    transcript parquet GROWS a checkpointed KGJob workdir via
    ``append_batch`` (batch_id = ``epoch-<id>``), so the streamed graph
    is the same lineage-manifested, resumable, combined-``table()``
    artifact a batch job produces.  ``dictionary`` / ``detect`` /
    ``relations`` pass through to ``KGJob`` unchanged, so streaming
    ingest runs the same custom-dictionary linking, gazetteer detection
    and relation triples as a batch job.

    Exactly-once: foreachBatch replays an epoch after a crash with the
    SAME epoch_id and (file-source + checkpoint) the same rows;
    ``append_batch`` with an unchanged batch_id + fingerprint resumes
    committed stages and overwrites partial ones in the batch's own
    epoch (the ``ep`` its committed rows record), so a replay never
    duplicates rows.  The first epoch on an empty workdir bootstraps via
    ``run()`` (same resume semantics).

    Delivery contract: a conversation's turns must arrive WITHIN one
    micro-batch (conversation-atomic bundles — the shape a
    session-complete exporter produces).  A conversation split across
    epochs violates append disjointness: ``on_existing='error'``
    (default) surfaces the violation, ``'skip'`` drops the late
    fragment, ``'trust'`` skips the scan (production setting when the
    exporter guarantees the contract; the scan re-reads the slim
    combined turn_order every epoch)."""
    from versa_spark.kg.job import KGJob

    os.makedirs(workdir, exist_ok=True)

    def _process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch_df = batch_df.dropDuplicates(["conv_id", "turn_idx"])
        job = KGJob(batch_df.sparkSession, workdir, dictionary=dictionary,
                    detect=detect, relations=relations)
        fp = f"epoch-{epoch_id}"
        if job.base_complete():
            # replay hole: a crash AFTER the bootstrap run() committed
            # but BEFORE the streaming checkpoint re-delivers the same
            # epoch with base_complete() now true — appending it would
            # duplicate the base.  The base manifest records which
            # epoch built it; but the epoch number alone is ambiguous
            # (a RESET checkpoint over an existing workdir also starts
            # at epoch 0 with genuinely new files), so verify: a true
            # replay's conversations are all already in the base.  New
            # conversations under a base-epoch id mean the operator
            # pointed a fresh checkpoint at an old workdir — refuse
            # loudly rather than silently dropping (or duplicating)
            # the batch.
            base_fp = (job._read_manifest()["turns"]
                       .get("input_fingerprint", ""))
            if base_fp.split("/", 1)[0] == fp:
                base_convs = (job.table("turn_order", until="")
                              .select("conv_id").distinct())
                novel = (batch_df.select("conv_id").distinct()
                         .join(base_convs, "conv_id", "left_anti")
                         .limit(1).collect())
                if not novel:
                    return          # true bootstrap replay: no-op
                raise ValueError(
                    f"micro-batch epoch {epoch_id} carries new "
                    f"conversations (e.g. {novel[0]['conv_id']!r}) but "
                    "the workdir's base was built from this same epoch "
                    "id — the streaming checkpoint was likely reset "
                    "over an existing workdir; use a fresh workdir or "
                    "restore the original checkpoint")
            job.append_batch(batch_df, f"epoch-{epoch_id}",
                             input_fingerprint=fp,
                             on_existing=on_existing)
        else:
            job.run(batch_df, input_fingerprint=fp)

    stream = read_transcript_stream(
        spark, input_dir, max_files_per_trigger=max_files_per_trigger)
    writer = (stream.writeStream
              .foreachBatch(_process_batch)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


CONV_STATE_SCHEMA = "n_turns LONG, n_mentions LONG, last_turn_idx INT"
CONV_OUT_SCHEMA = StructType([
    StructField("conv_id", StringType(), False),
    StructField("n_turns", IntegerType(), False),
    StructField("n_mentions", IntegerType(), False),
    StructField("last_turn_idx", IntegerType(), False),
])


def streaming_conversation_state(spark: SparkSession, input_dir: str,
                                 max_files_per_trigger: int = 1) -> DataFrame:
    """Custom stateful operator: ``applyInPandasWithState`` keyed by
    conv_id, accumulating running turn/mention counts across micro-batches
    (the engine-checklist item the reference has no analogue for — its
    closest is the coroutine sink, serial/util.py:23-49).

    Emits the running per-conversation totals each time a batch touches
    the conversation.  State is (n_turns, n_mentions, last_turn_idx).
    Each turn's mention count is a JVM column computed before the
    grouping, so the Python side only sums; the text never reaches it."""
    from pyspark.sql.streaming.state import GroupStateTimeout
    from versa_spark.kg.extract import _MENTION_PAT_JVM

    def _update(key, pdfs, state):
        import pandas as pd
        conv_id = key[0]
        n_turns, n_mentions, last_ix = (
            state.get if state.exists else (0, 0, -1))
        for pdf in pdfs:
            n_turns += len(pdf)
            n_mentions += int(pdf["n_turn_mentions"].sum())
            if len(pdf):
                last_ix = max(last_ix, int(pdf["turn_idx"].max()))
        state.update((n_turns, n_mentions, last_ix))
        yield pd.DataFrame({"conv_id": [conv_id],
                            "n_turns": [n_turns],
                            "n_mentions": [n_mentions],
                            "last_turn_idx": [last_ix]})

    stream = read_transcript_stream(spark, input_dir,
                                    max_files_per_trigger)
    n_turn_mentions = F.size(F.regexp_extract_all(
        F.coalesce("text", F.lit("")), F.lit(_MENTION_PAT_JVM), 1))
    return (stream
            .select("conv_id", "turn_idx",
                    n_turn_mentions.alias("n_turn_mentions"))
            .groupBy("conv_id")
            .applyInPandasWithState(
                _update, CONV_OUT_SCHEMA, CONV_STATE_SCHEMA,
                "update", GroupStateTimeout.NoTimeout))


def streaming_dedup_turns(spark: SparkSession, input_dir: str,
                          watermark: str = "30 minutes") -> DataFrame:
    """Streaming ingest dedup: ``dropDuplicatesWithinWatermark`` on the
    turn natural key (conv_id, turn_idx) — the operator that makes
    at-least-once upstream delivery (Kafka replays, file re-drops) safe.
    Dedup state is bounded by the event-time watermark instead of growing
    forever, which is what lets it run against an unbounded 100-TB/day
    feed; the batch analogue is dedup.exact_duplicates."""
    stream = read_transcript_stream(spark, input_dir)
    return (stream.withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(["conv_id", "turn_idx"]))


def streaming_mention_counts(spark: SparkSession, input_dir: str,
                             window: str = "10 minutes",
                             watermark: str = "30 minutes") -> DataFrame:
    """Native streaming plan: watermarked event-time windowed mention
    counts per entity.  Each mention links through the lexicon's literal
    map, in-row.  Returns the unbounded DataFrame — caller attaches a
    sink (memory sink in tests)."""
    from versa_spark.kg import extract
    stream = read_transcript_stream(spark, input_dir)
    iri = extract.canonical_iri_sql(extract.canonical_ix_sql("surface"))
    mentions = (stream
                .withWatermark("ts", watermark)
                .withColumn("surface",
                            F.explode(extract.mention_surfaces_col("text")))
                .withColumn("entity_iri", F.expr(iri)))
    return (mentions
            .groupBy(F.window("ts", window), F.col("entity_iri"))
            .agg(F.count("*").alias("n_mentions"))
            .select(F.col("window.start").alias("win_start"),
                    "entity_iri", "n_mentions"))


def streaming_nt_ingest(spark: SparkSession, input_dir: str,
                        watermark: str = "10 minutes",
                        only_rel=None, exclude_rel=None) -> DataFrame:
    """Streaming serializer ingest: NTriples lines land as text files
    (the at-least-once file-drop pattern) and parse into link quads with
    the SAME column expressions as the batch serial.ntriples.parse_df —
    one code path, two execution modes.  Replayed files cannot
    double-insert: quads dedup on their natural key within an
    ingest-time watermark (dropDuplicatesWithinWatermark), so dedup
    state stays bounded on an unbounded feed."""
    from versa_spark.serial.ntriples import parse_df
    lines = spark.readStream.format("text").load(input_dir)
    quads = parse_df(spark, lines, only_rel=only_rel,
                     exclude_rel=exclude_rel, dedup=False)
    return (quads
            .withColumn("_ingest_ts", F.current_timestamp())
            .withWatermark("_ingest_ts", watermark)
            .dropDuplicatesWithinWatermark(
                ["origin", "rel", "target", "t_iri"])
            .drop("_ingest_ts"))


EVENT_SCHEMA = StructType([
    StructField("event_id", LongType(), False),
    StructField("ts", TimestampType(), True),
    StructField("user_id", LongType(), True),
    StructField("event_type", StringType(), True),
    StructField("value", DoubleType(), True),
    StructField("props", StringType(), True),
])


def streaming_event_rollup(spark: SparkSession, input_dir: str,
                           bucket_s: int = 3600,
                           watermark: str = "2 hours") -> DataFrame:
    """Streaming twin of ``events.windowed_rollup``: watermarked
    tumbling-window counts + DECIMAL-exact value sums per event type.
    ``F.window`` tumbling windows are epoch-aligned, so
    ``unix_micros(window.start)`` equals the batch operator's integer
    bucket (``epoch_us − epoch_us % width``) exactly — the parity test
    asserts batch == streaming on the same files.

    The batch twin also reports exact ``n_users``
    (COUNT(DISTINCT user_id)); streaming aggregation cannot hold exact
    per-window distinct state bounded, so the streaming rollup omits it
    (``approx_count_distinct`` is the streaming option when an estimate
    suffices — deliberately not emitted here to keep every reported
    column exactly engine-checkable).  Watermark bounds window state for
    unbounded feeds; tests run complete-mode on a finite source."""
    stream = (spark.readStream.schema(EVENT_SCHEMA)
              .parquet(input_dir))
    return (stream.withWatermark("ts", watermark)
            .groupBy(F.window("ts", f"{int(bucket_s)} seconds"),
                     "event_type")
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
                 .cast("double").alias("value_sum"))
            .select(F.unix_micros(F.col("window.start"))
                    .alias("bucket_us"),
                    "event_type", "n_events", "value_sum"))


DOC_STREAM_SCHEMA = StructType([
    StructField("doc_id", LongType(), False),
    StructField("text", StringType(), True),
])


def stream_dedup_ingest(spark: SparkSession, input_dir: str,
                        index_path: str, output_dir: str,
                        checkpoint_dir: str, threshold: float = 0.8,
                        available_now: bool = True,
                        max_files_per_trigger: int = 16):
    """Streaming corpus ingestion with incremental dedup: each
    micro-batch of (doc_id, text) parquet is deduped WITHIN the batch
    (``dedup_corpus``) and AGAINST the persistent LSH index
    (``dedup_against_index``), and the survivors land in
    ``output_dir`` as epoch-partitioned parquet.  The sink is written
    with dynamic partition overwrite, so an at-least-once replayed
    epoch (a crash between the parquet commit and the streaming
    checkpoint re-runs the SAME epoch_id) overwrites its own
    ``epoch=E`` partition instead of duplicating docs.

    The index is READ-ONLY during streaming, deliberately: appending to
    it inside ``foreachBatch`` would not be replay-idempotent (a
    re-run epoch would double the appended banding/shingle/size rows,
    and duplicated ``sizes/`` rows corrupt Jaccard).  The production
    loop is: stream with the current index → periodically (a batch
    job) ``write_dedup_index(survivors, path, mode='append')`` from the
    COMMITTED epochs and restart the stream — the classic
    static-index-with-periodic-refresh pattern.  Within one run,
    cross-batch duplicates that are in neither the index nor the same
    micro-batch pass through (bounded by the refresh cadence); exact
    within-run protection would need stateful streaming over the full
    shingle space, which no bounded state holds at corpus scale."""
    from versa_spark.dedup import dedup_against_index, dedup_corpus

    os.makedirs(output_dir, exist_ok=True)

    def _process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch_df = batch_df.dropDuplicates(["doc_id"])
        survivors = dedup_corpus(batch_df, threshold=threshold)
        survivors = dedup_against_index(survivors, index_path,
                                        threshold=threshold)
        (survivors
         .withColumn("epoch", F.lit(epoch_id))
         .write.mode("overwrite").partitionBy("epoch")
         # a per-writer option: the session conf would leak dynamic
         # overwrite to concurrent queries sharing the session
         .option("partitionOverwriteMode", "dynamic")
         .parquet(output_dir))

    stream = (spark.readStream
              .schema(DOC_STREAM_SCHEMA)
              .option("maxFilesPerTrigger", max_files_per_trigger)
              .parquet(input_dir))
    writer = (stream.writeStream
              .foreachBatch(_process_batch)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
