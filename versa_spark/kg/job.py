"""The end-to-end transcript → knowledge-graph job, checkpointed & resumable.

Stage graph (north rule):

    transcripts ─┬─ turn_order (slim window rank — text never rides it)
                 └─ turns (projection) ─┬─ conversation_links ──┐
                                        └─ turn_mentions ─ link_entities ─┬─ mention_links ──┤──▶ graph table
                                                                          ├─ entity_links ───┘     + adjacency edges
                                                                          └─ entity_mention_counts (metrics table)

Checkpoint/lineage: every stage writes Parquet under <workdir>/<stage>/ and
appends a manifest row (stage, status, rows, input_fingerprint, wall_s, ts).
A re-run skips stages whose manifest row is ``ok`` AND whose input
fingerprint is unchanged — a killed job resumes mid-extraction.  The
manifest doubles as the counter-metrics channel.

Incremental growth: :meth:`KGJob.append_batch` runs the same stage graph
over a NEW batch of conversations into ``<workdir>/batches/<batch_id>/``
(manifest keys ``stage@batch_id``) in O(batch) — no base stage is re-read
or rewritten — and :meth:`KGJob.table` serves the combined view (plain
partitioned union for the link tables; exact agg-of-aggregates for
entity_stats).  See append_batch's docstring for the disjointness
contract and the idempotent commit protocol.

Partitioning: stage outputs are written partitioned by ``pt = pmod(
xxhash64(conv_id), n_buckets)`` so (a) downstream stages get partition
pruning for per-conversation access, (b) resume granularity is per
partition (a stage's write is atomic per partition via Parquet committer).
At 10^12-turn scale the same layout maps to Iceberg partition transforms
(bucket(conv_id)); this sandbox has no Iceberg runtime, so the lineage
manifest stands in for Iceberg snapshot metadata.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from versa_spark.kg import canonicalize, extract, linking, transcripts as T

MANIFEST = "_manifest.jsonl"


class KGJob:
    """The checkpointed, resumable, appendable transcript → KG job under
    ``workdir`` (see the module docstring)."""

    def __init__(self, spark: SparkSession, workdir: str,
                 n_buckets: int = 32, salt: int = 16,
                 dictionary: DataFrame | None = None,
                 detect: str = "lexicon",
                 detect_opts: dict | None = None,
                 relations: tuple[str, ...] | None = None):
        if detect not in ("lexicon", "dictionary"):
            raise ValueError(f"unknown detect {detect!r} "
                             "(use 'lexicon' or 'dictionary')")
        if detect == "dictionary" and dictionary is None:
            raise ValueError("detect='dictionary' requires a dictionary")
        self.spark = spark
        self.workdir = workdir
        self.n_buckets = n_buckets
        self.salt = salt
        # detect='dictionary' routes the mentions stage through the
        # token-n-gram gazetteer join (extract.turn_mentions_bigdict) —
        # detection+linking fuse into one map-side join and the linked
        # view becomes a pure projection of the mentions checkpoint.
        # With detect='lexicon' an explicit dictionary still drives the
        # LINKING stage (the build_graph semantics).  The dictionary's
        # CONTENT is part of the job's input: run() folds an
        # order-insensitive content digest into the effective stage
        # fingerprint, so a resume after a dictionary change recomputes
        # instead of silently serving stale stages.
        self.dictionary = dictionary
        self.detect = detect
        self.detect_opts = dict(detect_opts or {})
        # opt-in verb-linked relation triples (extract.relation_links):
        # persisted as their own slim stage (each run's stage holds only
        # triples NOT already committed — the entity-links delta
        # discipline — so combined views never duplicate a relation) and
        # unioned into the graph stage.  Folded into the effective
        # fingerprint: a resume after changing the connector set must
        # recompute, not serve stale stages.
        self.relations = tuple(relations) if relations else None
        os.makedirs(workdir, exist_ok=True)
        self.metrics: dict[str, dict] = {}

    def _dictionary_digest(self) -> str:
        """Cheap order-insensitive content digest of the dictionary: row
        count + sum of row hashes over one narrow scan.  Collision-safe
        enough for change DETECTION (a resume-invalidation signal, not
        an identity)."""
        cols = [F.col(c) for c in self.dictionary.columns]
        # decimal sum: a long sum of 64-bit hashes overflows under ANSI
        row = self.dictionary.agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h")
        ).first()
        return f"{row['n']}:{row['h']}"

    # -- manifest / lineage ------------------------------------------------

    def _manifest_path(self) -> str:
        return os.path.join(self.workdir, MANIFEST)

    def _read_manifest(self) -> dict[str, dict]:
        out = {}
        try:
            with open(self._manifest_path()) as f:
                for line in f:
                    rec = json.loads(line)
                    out[rec["stage"]] = rec
        except FileNotFoundError:
            pass
        return out

    def _append_manifest(self, rec: dict) -> None:
        with open(self._manifest_path(), "a") as f:
            f.write(json.dumps(rec, separators=(",", ":")) + "\n")

    def _stage_dir(self, stage: str) -> str:
        return os.path.join(self.workdir, stage)

    def _batch_stage_dir(self, batch_id: str, stage: str) -> str:
        return os.path.join(self.workdir, "batches", batch_id, stage)

    def _read_committed(self, key: str) -> DataFrame:
        """Read a committed stage (base or ``stage@batch``) with the
        manifest-pinned schema, so legitimately EMPTY stages (no part
        files to infer from) read back as 0 rows instead of throwing."""
        rec = self._read_manifest().get(key)
        if not rec or rec.get("status") != "ok":
            raise ValueError(f"stage {key!r} has no committed manifest row")
        if "@" in key:
            stage, bid = key.split("@", 1)
            path = self._batch_stage_dir(bid, stage)
        else:
            path = self._stage_dir(key)
        reader = self.spark.read
        if rec.get("schema"):
            from pyspark.sql.types import StructType
            reader = reader.schema(
                StructType.fromJson(json.loads(rec["schema"])))
        return reader.parquet(path)

    def _run_stage(self, stage: str, input_fingerprint: str,
                   build, key: str | None = None,
                   path: str | None = None) -> DataFrame:
        """Run or resume one stage: skip when the manifest has an ``ok``
        row with the same input fingerprint; else (re)compute and commit.
        ``key``/``path`` override the manifest key and output directory
        (batch appends use ``stage@batch_id`` under batches/<id>/)."""
        key = key or stage
        path = path or self._stage_dir(stage)
        prior = self._read_manifest().get(key)
        if (prior and prior.get("status") == "ok"
                and prior.get("input_fingerprint") == input_fingerprint
                and os.path.isdir(path)):
            self.metrics[key] = {**prior, "resumed": True}
            reader = self.spark.read
            if prior.get("schema"):
                # manifest-pinned schema: lets a legitimately EMPTY
                # stage (no part files to infer from) resume cleanly
                from pyspark.sql.types import StructType
                reader = reader.schema(
                    StructType.fromJson(json.loads(prior["schema"])))
            return reader.parquet(path)
        t0 = time.time()
        df = build()
        if "conv_id" in df.columns:
            df = df.withColumn(
                "pt", F.pmod(F.xxhash64("conv_id"), F.lit(self.n_buckets)))
            if "text" not in df.columns:
                # hash write distribution (Iceberg's
                # write.distribution-mode=hash): one exchange of the slim
                # rows buys B output files instead of M×B — without it
                # every mapper writes into every bucket directory, 10^9+
                # tiny files at 10^12 turns.  The text-carrying turns
                # stage is exempt so the fat column never rides an
                # exchange: with the north rule's input (an Iceberg table
                # bucketed by conv_id) each input split already holds one
                # bucket, so its mapper-aligned write yields one file per
                # bucket — alignment, not shuffle, for the fat stage.
                df = df.repartition(self.n_buckets, "pt")
            (df.write.mode("overwrite").partitionBy("pt").parquet(path))
        else:
            df.write.mode("overwrite").parquet(path)
        # read back with the WRITER's schema pinned: a legitimately empty
        # stage (e.g. a gazetteer with no hits in this corpus) writes no
        # part files, and schema inference over the bare directory would
        # throw UNABLE_TO_INFER_SCHEMA instead of yielding 0 rows
        out = self.spark.read.schema(df.schema).parquet(path)
        rec = {"stage": key, "status": "ok", "rows": out.count(),
               "input_fingerprint": input_fingerprint,
               "schema": df.schema.json(),
               "wall_s": round(time.time() - t0, 3), "ts": time.time()}
        self._append_manifest(rec)
        self.metrics[key] = rec
        return out

    # -- the pipeline --------------------------------------------------

    STAGES = ("turns", "turn_order", "mentions", "linked", "graph",
              "edges", "entity_stats")

    def _run_pipeline(self, transcripts_df: DataFrame, fp: str,
                      batch_id: str | None = None) -> dict[str, DataFrame]:
        """The stage graph, shared by ``run`` (base) and ``append_batch``
        (batch dirs + ``stage@batch`` manifest keys).  Every stage is
        conversation-local — ordering, detection, linking and the link
        families never cross conv_id — so on a batch whose conv_ids are
        disjoint from the base, the per-batch outputs are EXACTLY the
        rows a full rebuild would add."""
        def stage(name, build):
            if batch_id is None:
                return self._run_stage(name, fp, build)
            return self._run_stage(
                name, fp, build, key=f"{name}@{batch_id}",
                path=self._batch_stage_dir(batch_id, name))

        mkey = "mentions" if batch_id is None else f"mentions@{batch_id}"
        # turns: pure projection (turn IRI), NO window — the rank
        # exchange would shuffle + sort full rows including the fat text
        # column, and no downstream link family consumes turn_rank.  The
        # stable-ordering artifact is its own slim stage instead.
        turns = stage(
            "turns",
            lambda: T.ordered_turns(transcripts_df, with_rank=False))
        turn_order = stage(
            "turn_order", lambda: T.turn_order(transcripts_df))
        if self.detect == "dictionary":
            # one fused detect+link join; the checkpointed mentions rows
            # already carry (canonical, entity_iri), so `linked` is a
            # pure PROJECTION of the mentions checkpoint — writing it as
            # its own stage would re-shuffle and duplicate the job's
            # largest output on disk for a constant column
            mentions = stage(
                "mentions", lambda: extract.turn_mentions_bigdict(
                    turns, self.dictionary, **self.detect_opts))
            linked = mentions.select(
                "conv_id", "turn_idx", "turn_iri", "surface",
                F.lit(True).alias("linked"), "canonical", "entity_iri")
            self.metrics["linked" if batch_id is None
                         else f"linked@{batch_id}"] = {
                "stage": "linked", "status": "view-of-mentions",
                "rows": self.metrics[mkey].get("rows"),
                "resumed": self.metrics[mkey].get("resumed", False)}
        else:
            mentions = stage(
                "mentions", lambda: extract.turn_mentions(turns))
            link_dict = (self.dictionary if self.dictionary is not None
                         else linking.canonical_dictionary(self.spark))
            linked = stage(
                "linked", lambda: linking.link_entities(
                    mentions, link_dict,
                    # mentions come from turn_mentions → the lexicon IS
                    # the surface universe; zero-Python linking stage
                    surface_universe=extract.LEXICON))
        # the one non-conversation-local link family: entity type/label
        # links are per-distinct-entity, so a batch must not re-emit
        # links for entities the base (or an earlier batch) already
        # covered — anti-join against the committed entity set, read
        # from the entity_stats AGGREGATES (bounded by the dictionary,
        # never the corpus)
        exclude = (self._committed_entities(batch_id)
                   if batch_id is not None else None)
        rels = None
        if self.relations:
            def _build_rels():
                r = extract.relation_links(turns, verbs=self.relations)
                prior = self._committed_relations(batch_id)
                if prior is not None:
                    r = r.join(prior, ["origin", "rel", "target"],
                               "left_anti")
                return r
            rels = stage("relations", _build_rels)
        def _build_graph():
            g = (extract.conversation_links(turns)
                 .unionByName(canonicalize.mention_links(linked))
                 .unionByName(canonicalize.entity_links(linked,
                                                        exclude=exclude)))
            return g.unionByName(rels) if rels is not None else g
        graph = stage("graph", _build_graph)
        edges = stage(
            "edges", lambda: canonicalize.adjacency_edges(graph))
        entity_stats = stage(
            "entity_stats", lambda:
            canonicalize.entity_mention_counts(linked, salt=self.salt))
        out = {"turns": turns, "turn_order": turn_order,
               "mentions": mentions, "linked": linked,
               "graph": graph, "edges": edges,
               "entity_stats": entity_stats}
        if rels is not None:
            out["relations"] = rels
        return out

    def _effective_fp(self, fp: str) -> str:
        if self.dictionary is not None:
            fp = f"{fp}/dict={self._dictionary_digest()}"
        if self.relations:
            fp = f"{fp}/rels={','.join(self.relations)}"
        return fp

    def run(self, transcripts_df: DataFrame,
            input_fingerprint: str = "default") -> dict[str, DataFrame]:
        return self._run_pipeline(transcripts_df,
                                  self._effective_fp(input_fingerprint))

    # -- incremental growth -------------------------------------------

    def append_batch(self, transcripts_df: DataFrame, batch_id: str,
                     input_fingerprint: str = "default",
                     on_existing: str = "error") -> dict[str, DataFrame]:
        """Grow a COMPLETED base graph by a new batch of conversations in
        O(batch) — the continuous-ingestion shape of the north rule
        (reference context: versa's model mutation API,
        model.py add/remove, is in-memory per-call; at 10^12 turns graph
        growth must never re-read the corpus).

        Why O(batch) is exact: every stage is conversation-local, so
        with batch conv_ids DISJOINT from the base, per-batch outputs
        are precisely the delta a full rebuild would add; and
        ``entity_stats`` is additive in both n_mentions and n_convs
        under the same disjointness, so the combined rollup
        (:meth:`table`) aggregates the (small) per-run aggregates
        without touching mention data.

        Commit protocol (idempotent retries): each batch stage writes
        ``mode('overwrite')`` into ``<workdir>/batches/<batch_id>/<stage>``
        and commits a ``stage@batch_id`` manifest row — a crashed append
        re-run overwrites its own partial files and re-commits; base
        stages are never touched.  Re-appending an already-committed
        batch_id with the same fingerprint resumes (no duplicate rows).

        ``on_existing`` — what to do about conv_ids already in the base:
        ``'error'`` (default) scan the slim base turn_order for overlap
        and raise; ``'skip'`` anti-join overlapping conversations out of
        the batch; ``'trust'`` skip the scan (the production setting
        when upstream delivery is exactly-once — the scan is O(corpus),
        albeit over a 2-column table).
        """
        import re as _re
        if not _re.fullmatch(r"[A-Za-z0-9._-]+", batch_id):
            raise ValueError(f"batch_id {batch_id!r} must be filesystem-"
                             "safe ([A-Za-z0-9._-]+)")
        if on_existing not in ("error", "skip", "trust"):
            raise ValueError(f"unknown on_existing {on_existing!r}")
        manifest = self._read_manifest()
        if manifest.get("turns", {}).get("status") != "ok":
            raise ValueError("append_batch requires a completed base "
                             "run (run() first)")
        # config first: a stage "missing" because the base was built
        # under a different dictionary/relations config should say so
        self._check_config_matches_base(manifest)
        missing = [s for s in self._required_stages()
                   if manifest.get(s, {}).get("status") != "ok"]
        if missing:
            raise ValueError(
                f"append_batch requires a completed base run; missing "
                f"stages: {missing} (run() first)")
        self._check_batches_complete(manifest, exclude=batch_id)
        if on_existing != "trust":
            # scan base + every committed batch (a conversation ingested
            # by an EARLIER append is just as "existing" as a base one),
            # but exclude THIS batch_id's own rows so a retry of a
            # crashed append doesn't collide with its partial commit
            base_convs = self._read_committed("turn_order").select("conv_id")
            for bid in self.batch_ids("turn_order"):
                if bid != batch_id:
                    base_convs = base_convs.unionByName(
                        self._read_committed(f"turn_order@{bid}")
                        .select("conv_id"))
            base_convs = base_convs.distinct()
            batch_convs = transcripts_df.select("conv_id").distinct()
            # semi from the BASE side so the small batch set broadcasts;
            # the overlap result is bounded by the batch size
            overlap = base_convs.join(
                F.broadcast(batch_convs), "conv_id", "left_semi")
            if on_existing == "error":
                hit = overlap.limit(1).collect()
                if hit:
                    raise ValueError(
                        f"batch {batch_id!r} overlaps the base graph "
                        f"(e.g. conv_id={hit[0]['conv_id']!r}); use "
                        "on_existing='skip' to drop them or 'trust' to "
                        "skip the scan")
            else:
                transcripts_df = transcripts_df.join(
                    overlap, "conv_id", "left_anti")
        fp = self._effective_fp(f"batch:{input_fingerprint}")
        return self._run_pipeline(transcripts_df, fp, batch_id=batch_id)

    def _required_stages(self) -> list[str]:
        out = [s for s in self.STAGES
               if s != "linked" or self.detect != "dictionary"]
        if self.relations:
            out.insert(out.index("graph"), "relations")
        return out

    def base_complete(self) -> bool:
        """True when every base stage has a committed manifest row —
        the precondition for :meth:`append_batch` (streaming ingestion
        uses this to route the first micro-batch to :meth:`run`)."""
        manifest = self._read_manifest()
        return all(manifest.get(s, {}).get("status") == "ok"
                   for s in self._required_stages())

    def _check_batches_complete(self, manifest: dict,
                                exclude: str | None = None) -> None:
        """Every committed batch other than ``exclude`` must have ALL its
        stages — appends and compactions over a half-committed batch
        would under-exclude entities/relations (retry the crashed batch
        to completion first; same batch_id + fingerprint resumes)."""
        stages = self._required_stages()
        others = {k.split("@", 1)[1] for k, r in manifest.items()
                  if "@" in k and r.get("status") == "ok"} - {exclude}
        for bid in sorted(others):
            not_done = [s for s in stages
                        if manifest.get(f"{s}@{bid}", {}).get("status")
                        != "ok"]
            if not_done:
                raise ValueError(
                    f"batch {bid!r} is incomplete (missing {not_done}); "
                    "finish it first (re-run with the same batch_id and "
                    "fingerprint to resume)")

    def _check_config_matches_base(self, manifest: dict) -> None:
        """The base run's fingerprint records the dictionary digest and
        connector set it was built with; an append (or compaction) under
        a DIFFERENT config would silently mix configurations in the
        combined views — run() recomputes on config change, so the
        incremental paths must refuse instead."""
        base_fp = manifest.get("turns", {}).get("input_fingerprint", "")
        # r07 (advice fix): compare the FULL value of each config segment
        # for exact equality instead of substring containment — under the
        # old check a job with rels=('is',) matched a base built with
        # rels=is,has (comma-prefix), silently mixing connector configs
        # in the combined table() view.  Segments are parsed on '/' (the
        # same separator _effective_fp appends with); a user fingerprint
        # that itself contains '/dict=' or '/rels=' remains ambiguous and
        # is documented as reserved.
        base_segs = base_fp.split("/")
        base_dict = [s[len("dict="):] for s in base_segs
                     if s.startswith("dict=")]
        base_rels = [s[len("rels="):] for s in base_segs
                     if s.startswith("rels=")]
        want_dict = ([self._dictionary_digest()]
                     if self.dictionary is not None else [])
        want_rels = [",".join(self.relations)] if self.relations else []
        for kind, base_v, want_v in (("dict", base_dict, want_dict),
                                     ("rels", base_rels, want_rels)):
            if base_v != want_v:
                raise ValueError(
                    f"this job's config ({kind}={want_v or 'absent'}) "
                    f"does not match the base run's fingerprint "
                    f"{base_fp!r} ({kind}={base_v or 'absent'}); rebuild "
                    "or construct the job with the base config")

    def _committed_relations(self, batch_id: str | None) -> DataFrame | None:
        """Relation triples already committed by the base run or a batch
    other than ``batch_id`` (None for a base run — nothing to exclude).
    Each committed relations stage is a deduped triple set (bounded by
    the asserted-relation vocabulary, not the corpus)."""
        if batch_id is None:
            return None
        rel = self._read_committed("relations").select(
            "origin", "rel", "target")
        for bid in self.batch_ids("relations"):
            if bid != batch_id:
                rel = rel.unionByName(
                    self._read_committed(f"relations@{bid}")
                    .select("origin", "rel", "target"))
        return rel

    def _committed_entities(self, batch_id: str) -> DataFrame:
        """Distinct entity_iri already covered by the base run or a
        committed batch other than ``batch_id`` (a retry must not
        exclude against its own partial commit)."""
        ents = self._read_committed("entity_stats").select("entity_iri")
        for bid in self.batch_ids("entity_stats"):
            if bid != batch_id:
                ents = ents.unionByName(
                    self._read_committed(f"entity_stats@{bid}")
                    .select("entity_iri"))
        return ents.distinct()

    def compact_to(self, new_workdir: str,
                   input_fingerprint: str = "compacted") -> "KGJob":
        """Rewrite base + all committed batches into a FRESH workdir as
        its base run — the Iceberg rewrite-data-files analogue that
        bounds ``table()`` fan-in after many appends (each append adds a
        directory per stage; a thousand epochs = a thousand-way union).

        Crash-safe by construction: the source workdir is never touched,
        so a crashed compaction is recovered by deleting the partial
        target and re-running.  Costs one full pass over the combined
        data (O(corpus)); run it at the cadence where union fan-in or
        small-file count starts to matter, then point consumers (and
        further appends) at the returned job."""
        if os.path.abspath(new_workdir) == os.path.abspath(self.workdir):
            raise ValueError("compact_to requires a fresh workdir "
                             "(the source is left untouched)")
        if (os.path.isdir(new_workdir)
                and os.path.exists(os.path.join(new_workdir, MANIFEST))):
            raise ValueError(f"{new_workdir!r} already holds a job "
                             "(delete the partial/old target first)")
        manifest = self._read_manifest()
        if manifest.get("turns", {}).get("status") != "ok":
            raise ValueError("compact_to requires a completed base run")
        self._check_config_matches_base(manifest)
        missing = [s for s in self._required_stages()
                   if manifest.get(s, {}).get("status") != "ok"]
        if missing:
            raise ValueError(f"source base run incomplete: {missing}")
        # a half-committed batch would compact per-stage into an
        # INCONSISTENT base (its turns present, its graph absent) with
        # the retry path gone — refuse until it completes
        self._check_batches_complete(manifest)
        target = KGJob(self.spark, new_workdir, n_buckets=self.n_buckets,
                       salt=self.salt,
                       dictionary=self.dictionary, detect=self.detect,
                       detect_opts=self.detect_opts,
                       relations=self.relations)
        # fold dict/relations into the target's fingerprints (exactly as
        # run() would) so post-compaction appends pass the config check
        fp = target._effective_fp(input_fingerprint)
        for stage_name in self._required_stages():
            df = self.table(stage_name)
            # partition columns (pt) are re-derived by _run_stage
            cols = [c for c in df.columns if c != "pt"]
            target._run_stage(stage_name, fp,
                              lambda d=df.select(*cols): d)
        return target

    def batch_ids(self, stage: str = "graph") -> list[str]:
        """Batch ids with a committed row for ``stage``, append order."""
        out = []
        for key, rec in self._read_manifest().items():
            if "@" in key and rec.get("status") == "ok":
                s, bid = key.split("@", 1)
                if s == stage and bid not in out:
                    out.append(bid)
        return out

    def table(self, name: str, until: str | None = None) -> DataFrame:
        """The combined view of stage ``name``: base run plus every
        committed batch.  ``entity_stats`` re-aggregates the per-run
        aggregates (exact under the disjoint-conversation contract —
        counts AND distinct-conv counts are additive across disjoint
        batches); every other stage is a plain union of partitioned
        parquet, so consumers keep partition pruning on ``pt``.

        ``until``: snapshot read — include batches only up to and
        including this batch_id in append (manifest) order, the
        Iceberg time-travel analogue over the manifest's append log.
        ``until=''`` reads the base run alone.  Exact for the same
        reason appends are: committed batch outputs are immutable and
        delta-complete, so a prefix of them IS the graph as it stood
        after that append."""
        if name == "linked" and self.detect == "dictionary":
            raise ValueError("linked is a view of mentions under "
                             "detect='dictionary'; read table('mentions')")
        bids = self.batch_ids(name)
        if until is not None:
            if until == "":
                bids = []
            elif until in bids:
                bids = bids[:bids.index(until) + 1]
            else:
                raise ValueError(f"no committed batch {until!r} for stage "
                                 f"{name!r} (have {bids})")
        df = self._read_committed(name)
        for bid in bids:
            df = df.unionByName(self._read_committed(f"{name}@{bid}"))
        if name == "entity_stats":
            df = (df.groupBy("entity_iri", "canonical")
                    .agg(F.sum("n_mentions").alias("n_mentions"),
                         F.sum("n_convs").alias("n_convs")))
        return df
