"""The end-to-end transcript → knowledge-graph job, checkpointed & resumable.

Stage graph (north rule): five written stages, in run order.

    transcripts ─┬─ turns (projection) ─┬─────────────────── turn links ──────────┐
                 │                      └─ mentions ─┬──────── mention links ───────┤
                 │             (detected + linked)   └─ entity_stats ─ entity links ┼──▶ graph
                 └─ turn_order (slim window rank) ─ turn_rank = 0 ─ conv type links ┘

``linked`` (a projection of ``mentions``) and ``edges``
(``adjacency_edges(graph)``) are views, never written.

Checkpoint/lineage: every stage writes Parquet under
<workdir>/<stage>/ep=<n>/ (the base run is epoch 0) and appends a manifest
row (stage, status, rows, ep, input_fingerprint, schema, wall_s, ts;
graph adds ``edge_rows``).  A re-run skips stages whose manifest row is
``ok`` AND whose input fingerprint is unchanged — a killed job resumes
mid-extraction.  The manifest doubles as the counter-metrics channel.

Incremental growth: :meth:`KGJob.append_batch` runs the same stage graph
over a NEW batch of conversations into the next epoch (manifest keys
``stage@batch_id``) in O(batch) — no base stage is re-read or rewritten
— and :meth:`KGJob.table` serves the combined view as one relation over
the committed epochs.  See append_batch's docstring for the disjointness
contract and the idempotent commit protocol.

Layout (v4): each stage epoch is plain ``part-*.parquet`` files under
``<stage>/ep=<n>/``, with no bucket directories: every read scans whole
committed epochs, so buckets would prune nothing.  The write is
coalesced to the file count Spark's scan split rule gives the stage's
estimated size (``storage._split_sized``), not one file per upstream
partition (input split, union branch or shuffle partition).  The size
is the larger of the plan's byte estimate and the rows the stage reads
(the manifest rows of the stages before it) times Spark's default row
width, so compressible input, explodes and join estimates do not shrink
a CPU-heavy stage: one file for a small append in every detect mode,
one per core or more once a stage outgrows ``cores ×
spark.sql.files.openCostInBytes`` (4 MB each by default).
``turn_order``, the first stage, reads uncounted transcripts and is
written as built: AQE sizes its window's shuffle output.
:meth:`KGJob.compact_to` bounds the files that many appends accumulate
(an epoch per stage per append), and it is the one reader of the older
layouts (v1 per-batch directories, v2 ``ep=<n>/pt=<k>/`` buckets, v3
written ``linked``/``edges``), which every other entry point refuses.
The lineage manifest stands in for Iceberg snapshot metadata: like an
Iceberg scan over its manifest list, every read is one relation over
the epochs the manifest commits (rows hold the epoch number, never a
path, so a copied workdir reads as itself).
"""

from __future__ import annotations

import json
import os
import time
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.types import StructType

from versa_spark.kg import canonicalize, extract, transcripts as T
from versa_spark.kg.graph import mention_linker
from versa_spark.storage import _split_sized

MANIFEST = "_manifest.jsonl"


def _batch_ids(manifest: dict[str, dict], stage: str) -> list[str]:
    return [k.split("@", 1)[1] for k, r in manifest.items()
            if k.startswith(f"{stage}@") and r.get("status") == "ok"]


class KGJob:
    """The checkpointed, resumable, appendable transcript → KG job under
    ``workdir`` (see the module docstring)."""

    def __init__(self, spark: SparkSession, workdir: str,
                 dictionary: DataFrame | None = None,
                 detect: str = "lexicon",
                 relations: tuple[str, ...] | None = None):
        if detect not in ("lexicon", "dictionary"):
            raise ValueError(f"unknown detect {detect!r} "
                             "(use 'lexicon' or 'dictionary')")
        if detect == "dictionary" and dictionary is None:
            raise ValueError("detect='dictionary' requires a dictionary")
        self.spark = spark
        self.workdir = workdir
        # the dictionary detects (detect='dictionary') or only links
        # (graph.mention_linker).  Its CONTENT digest is folded into the
        # stage fingerprint, so a resume after a change recomputes.
        self.dictionary = dictionary
        self.detect = detect
        # opt-in verb-linked relation triples (extract.relation_links):
        # their own slim stage, holding only triples NOT already committed
        # (so combined views never duplicate one), unioned into the graph;
        # folded into the fingerprint like the dictionary.
        self.relations = tuple(relations) if relations else None
        os.makedirs(workdir, exist_ok=True)
        self.metrics: dict[str, dict] = {}

    def _dictionary_digest(self) -> str | None:
        """Cheap order-insensitive content digest of the dictionary (None
        without one): row count + sum of row hashes over one narrow scan.
        Collision-safe enough for change DETECTION (a resume-invalidation
        signal, not an identity)."""
        if self.dictionary is None:
            return None
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
                    try:
                        rec = json.loads(line)
                    except json.JSONDecodeError:   # torn: uncommitted
                        continue
                    out[rec["stage"]] = rec
        except FileNotFoundError:
            pass
        return out

    def _append_manifest(self, rec: dict) -> None:
        line = json.dumps(rec, separators=(",", ":")) + "\n"
        with open(self._manifest_path(), "ab+") as f:
            if f.seek(0, os.SEEK_END):
                f.seek(-1, os.SEEK_END)
                if f.read(1) != b"\n":
                    line = "\n" + line     # end a torn last line first
            f.write(line.encode())

    def _stage_dir(self, stage: str) -> str:
        return os.path.join(self.workdir, stage)

    @staticmethod
    def _layout(manifest: dict) -> int:
        """The workdir layout the base run was written in: 1 (per-batch
        directories; base rows without ``ep``), 2 (``ep=<n>/pt=<k>/``
        buckets; the pinned schema carries ``pt``), 3 (``linked`` or
        ``edges`` rows, or pre-link ``mentions``) or 4.  An empty
        workdir is 4."""
        def fields(rec):
            return StructType.fromJson(json.loads(rec["schema"])).fieldNames()
        base, mentions = manifest.get("turns"), manifest.get("mentions")
        if base is None:
            return 4
        if "ep" not in base:
            return 1
        if "pt" in fields(base):
            return 2
        if ({k.partition("@")[0] for k in manifest} & {"linked", "edges"}
                or mentions and "entity_iri" not in fields(mentions)):
            return 3
        return 4

    def _check_layout(self, manifest: dict) -> None:
        """Refuse the older layouts before any Spark job runs."""
        layout = self._layout(manifest)
        if layout != 4:
            raise ValueError(f"{self.workdir!r} is in the old layout "
                             f"v{layout}; migrate it with compact_to() "
                             "first")

    def _committed(self, key: str, until: str | None = None,
                   exclude: str | None = None) -> list[dict]:
        """The committed manifest rows behind ``key``, from one manifest
        read: ``stage@batch_id`` is that batch alone; a bare stage is the
        base run plus every committed batch in append order, cut after
        batch ``until`` (``''``: the base alone) and without batch
        ``exclude`` (both ignored for ``stage@batch_id``)."""
        manifest = self._read_manifest()
        keys = [key]
        if "@" not in key:
            bids = _batch_ids(manifest, key)
            if until and until not in bids:
                raise ValueError(f"no committed batch {until!r} for "
                                 f"stage {key!r} (have {bids})")
            if until is not None:
                bids = bids[:bids.index(until) + 1] if until else []
            keys += [f"{key}@{b}" for b in bids if b != exclude]
        recs = [manifest.get(k) for k in keys]
        if not recs[0] or recs[0].get("status") != "ok":
            raise ValueError(f"stage {key!r} has no committed manifest row")
        return recs

    def _read_committed(self, key: str, until: str | None = None,
                        exclude: str | None = None) -> DataFrame:
        """One parquet relation over the epochs of :meth:`_committed`,
        with the manifest-pinned schema so an EMPTY epoch (no part files)
        reads as 0 rows.  ``ep`` appears only when some listed epoch holds
        files, so it is dropped unconditionally; so is a v2 job's ``pt``
        (read only by :meth:`compact_to`)."""
        recs = self._committed(key, until, exclude)
        root = self._stage_dir(key.split("@", 1)[0])
        return (self.spark.read
                .schema(StructType.fromJson(json.loads(recs[0]["schema"])))
                .option("basePath", root)
                .parquet(*[os.path.join(root, f"ep={r['ep']}")
                           for r in recs])
                .drop("ep", "pt"))

    def _run_stage(self, stage: str, input_fingerprint: str,
                   build, key: str | None = None,
                   in_rows: int | None = None) -> DataFrame:
        """Run or resume one stage: skip when the manifest has an ``ok``
        row with the same input fingerprint; else (re)compute and commit.
        ``key`` overrides the manifest key (batch appends use
        ``stage@batch_id``).  The base run writes epoch 0; a batch keeps
        the epoch of its committed rows, and a new batch takes the next.

        ``in_rows``, the rows the stage reads as committed stages
        counted them, sizes the write with the plan's byte estimate
        (``storage._split_sized``).  None writes the frame as built:
        ``turn_order``, the first stage, reads uncounted transcripts,
        and AQE already sizes its window's shuffle output from runtime
        statistics."""
        key = key or stage
        manifest = self._read_manifest()
        bid = key.partition("@")[2]
        ep = 0 if not bid else next(
            (r["ep"] for k, r in manifest.items()
             if k.partition("@")[2] == bid),
            1 + max(r["ep"] for r in manifest.values()))
        path = os.path.join(self._stage_dir(stage), f"ep={ep}")
        prior = manifest.get(key)
        if (prior and prior.get("status") == "ok"
                and prior.get("input_fingerprint") == input_fingerprint
                and os.path.isdir(path)):
            self.metrics[key] = {**prior, "resumed": True}
            return self._read_committed(key, until="")
        t0 = time.time()
        df = build()
        if in_rows is not None:
            df = _split_sized(df, in_rows)
        # rows (and the edges view's rows) are observed on the write
        # itself, not re-scanned after it
        obs = Observation()
        counts = [F.count(F.lit(1)).alias("rows")]
        if stage == "graph":
            counts.append(F.count_if(F.col("t_iri")).alias("edge_rows"))
        df.observe(obs, *counts).write.mode("overwrite").parquet(path)
        rec = {"stage": key, "status": "ok", **obs.get,
               "ep": ep, "input_fingerprint": input_fingerprint,
               # pins every read: an empty stage writes no part files
               # to infer a schema from
               "schema": df.schema.json(),
               "wall_s": round(time.time() - t0, 3), "ts": time.time()}
        self._append_manifest(rec)
        self.metrics[key] = rec
        return self._read_committed(key, until="")     # this epoch alone

    # -- the pipeline --------------------------------------------------

    STAGES = ("turn_order", "turns", "mentions", "entity_stats", "graph")

    def _run_pipeline(self, transcripts_df: DataFrame, fp: str,
                      batch_id: str | None = None) -> dict[str, DataFrame]:
        """The stage graph, shared by ``run`` (base) and ``append_batch``
        (``stage@batch`` manifest keys).  Every stage is conversation-local
        — ordering, detection, linking and the link families never cross
        conv_id — so on a batch whose conv_ids are disjoint from the base,
        the per-batch outputs are EXACTLY the rows a full rebuild would
        add."""
        def key(name):
            return name if batch_id is None else f"{name}@{batch_id}"

        def stage(name, build, reads=()):
            # the rows read, as the stages committed before it counted
            in_rows = (sum(self.metrics[key(r)]["rows"] for r in reads)
                       if reads else None)
            return self._run_stage(name, fp, build, key=key(name),
                                   in_rows=in_rows)

        # resolved before any stage commits, so a dictionary that cannot
        # link raises here
        link_mentions = mention_linker(self.dictionary, self.detect)
        # turn_order first: it counts the transcripts that turns reads
        turn_order = stage(
            "turn_order", lambda: T.turn_order(transcripts_df))
        # turns: pure projection (turn IRI), NO window — the rank exchange
        # would shuffle the fat text column; the stable-ordering artifact
        # is its own slim stage instead.
        turns = stage(
            "turns",
            lambda: T.ordered_turns(transcripts_df, with_rank=False),
            reads=("turn_order",))
        mentions = stage("mentions", lambda: link_mentions(turns),
                         reads=("turns",))
        linked = self._linked(mentions)
        entity_stats = stage(
            "entity_stats", lambda:
            canonicalize.entity_mention_counts(linked), reads=("mentions",))
        rels = None
        if self.relations:
            def _build_rels():
                r = extract.relation_links(turns, verbs=self.relations)
                if batch_id is not None:
                    # committed relation stages are deduped triple sets
                    r = r.join(self._read_committed(
                        "relations", exclude=batch_id).select(
                        "origin", "rel", "target"),
                        ["origin", "rel", "target"], "left_anti")
                return r
            rels = stage("relations", _build_rels, reads=("turns",))

        def _build_graph():
            # the one non-conversation-local link family: a batch's
            # entity_stats rows minus the entities of every epoch but its
            # own (a retry must not exclude against its own commit)
            earlier = (self._read_committed("entity_stats", exclude=batch_id)
                       if batch_id is not None else None)
            g = (extract.turn_links(turns)
                 .unionByName(extract.conversation_type_links(
                     turn_order.filter("turn_rank = 0")))
                 .unionByName(canonicalize.mention_links(linked))
                 .unionByName(canonicalize.entity_links(entity_stats,
                                                        exclude=earlier)))
            return g.unionByName(rels) if rels is not None else g
        graph = stage("graph", _build_graph, reads=(
            "turns", "turn_order", "mentions", "entity_stats")
            + (("relations",) if rels is not None else ()))
        self._view_metrics("" if batch_id is None else f"@{batch_id}")
        out = {"turns": turns, "turn_order": turn_order,
               "mentions": mentions, "linked": linked,
               "graph": graph, "edges": canonicalize.adjacency_edges(graph),
               "entity_stats": entity_stats}
        if rels is not None:
            out["relations"] = rels
        return out

    def _linked(self, mentions: DataFrame) -> DataFrame:
        """The ``linked`` view of ``mentions`` (detect='dictionary'
        writes no ``linked`` column: every mention is a hit)."""
        hit = (F.lit(True).alias("linked") if self.detect == "dictionary"
               else "linked")
        return mentions.select("conv_id", "turn_idx", "turn_iri", "surface",
                               hit, "canonical", "entity_iri")

    def _view_metrics(self, suffix: str) -> None:
        """``metrics`` entries for the views, shaped like a stage's:
        their rows, no wall time, the viewed stage's ts and resumed."""
        for view, of, rows in (("linked", "mentions", "rows"),
                               ("edges", "graph", "edge_rows")):
            rec = self.metrics[of + suffix]
            self.metrics[view + suffix] = {
                "stage": view + suffix, "status": f"view-of-{of}",
                "rows": rec[rows], "wall_s": 0, "ts": rec["ts"],
                "resumed": rec.get("resumed", False)}

    def _effective_fp(self, fp: str, digest: str | None) -> str:
        """``fp`` with the config folded in (``digest``: the caller's one
        :meth:`_dictionary_digest`)."""
        if digest is not None:
            fp = f"{fp}/dict={digest}"
        if self.relations:
            fp = f"{fp}/rels={','.join(self.relations)}"
        return fp

    def run(self, transcripts_df: DataFrame,
            input_fingerprint: str = "default") -> dict[str, DataFrame]:
        self._check_layout(self._read_manifest())
        return self._run_pipeline(
            transcripts_df,
            self._effective_fp(input_fingerprint, self._dictionary_digest()))

    # -- incremental growth -------------------------------------------

    def append_batch(self, transcripts_df: DataFrame, batch_id: str,
                     input_fingerprint: str = "default",
                     on_existing: str = "error") -> dict[str, DataFrame]:
        """Grow a COMPLETED base graph by a new batch of conversations in
        O(batch) — the continuous-ingestion shape of the north rule
        (at 10^12 turns graph growth must never re-read the corpus).

        Why O(batch) is exact: every stage is conversation-local, so
        with batch conv_ids DISJOINT from the base, per-batch outputs
        are precisely the delta a full rebuild would add; and
        ``entity_stats`` is additive in both n_mentions and n_convs
        under the same disjointness, so the combined rollup
        (:meth:`table`) aggregates the (small) per-run aggregates
        without touching mention data.

        Commit protocol (idempotent retries): a batch takes the next
        epoch (1 + the largest ``ep`` in the manifest); each stage writes
        ``mode('overwrite')`` into ``<workdir>/<stage>/ep=<n>`` and commits
        a ``stage@batch_id`` row recording ``ep``.  Readers list committed
        epochs only, so a crashed append's partial epoch is never read;
        its re-run reuses the recorded ``ep``, overwrites its own partial
        files and re-commits.  Re-appending an already-committed batch_id
        with the same fingerprint resumes (no duplicate rows).

        Returns the batch's own rows per stage and the ``linked`` and
        ``edges`` views over them.

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
        self._check_layout(manifest)
        if manifest.get("turns", {}).get("status") != "ok":
            raise ValueError("append_batch requires a completed base "
                             "run (run() first)")
        # config first: a stage "missing" because the base was built
        # under a different dictionary/relations config should say so
        digest = self._dictionary_digest()
        self._check_config_matches_base(manifest, digest)
        missing = [s for s in self._required_stages()
                   if manifest.get(s, {}).get("status") != "ok"]
        if missing:
            raise ValueError(
                f"append_batch requires a completed base run; missing "
                f"stages: {missing} (run() first)")
        self._check_batches_complete(manifest, exclude=batch_id)
        if on_existing != "trust":
            # scan every committed epoch but THIS batch_id's own, so a
            # retry of a crashed append doesn't collide with itself
            base_convs = (self._read_committed("turn_order",
                                               exclude=batch_id)
                          .select("conv_id").distinct())
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
        fp = self._effective_fp(f"batch:{input_fingerprint}", digest)
        return self._run_pipeline(transcripts_df, fp, batch_id=batch_id)

    def _required_stages(self) -> list[str]:
        out = list(self.STAGES)
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

    def _check_config_matches_base(self, manifest: dict,
                                   digest: str | None) -> None:
        """The base run's fingerprint records the dictionary digest and
        connector set it was built with; an append (or compaction) under
        a DIFFERENT config would silently mix configurations in the
        combined views — run() recomputes on config change, so the
        incremental paths must refuse instead."""
        base_fp = manifest.get("turns", {}).get("input_fingerprint", "")
        # compare the FULL value of each '/'-separated config segment
        # (substring containment let rels=('is',) match rels=is,has); a
        # user fingerprint containing '/dict=' or '/rels=' is reserved.
        base_segs = base_fp.split("/")
        base_dict = [s[len("dict="):] for s in base_segs
                     if s.startswith("dict=")]
        base_rels = [s[len("rels="):] for s in base_segs
                     if s.startswith("rels=")]
        want_dict = [digest] if digest is not None else []
        want_rels = [",".join(self.relations)] if self.relations else []
        for kind, base_v, want_v in (("dict", base_dict, want_dict),
                                     ("rels", base_rels, want_rels)):
            if base_v != want_v:
                raise ValueError(
                    f"this job's config ({kind}={want_v or 'absent'}) "
                    f"does not match the base run's fingerprint "
                    f"{base_fp!r} ({kind}={base_v or 'absent'}); rebuild "
                    "or construct the job with the base config")

    def compact_to(self, new_workdir: str,
                   input_fingerprint: str = "compacted") -> "KGJob":
        """Rewrite base + all committed batches into a FRESH workdir as
        its base run — the Iceberg rewrite-data-files analogue that
        bounds the small-file count after many appends (each append adds
        an epoch of files per stage): every stage is rewritten as one
        epoch, sized to the combined data by the same split rule.  It
        is also the migration of (and the only reader of) the older
        layouts: v1 per-batch directories, v2 ``pt=`` buckets and v3
        written ``linked``/``edges`` all compact to a v4 job (``linked``
        rows become ``mentions``).

        Crash-safe by construction: the source workdir is never touched,
        so a crashed compaction is recovered by deleting the partial
        target and re-running.  Costs one full pass over the combined
        data (O(corpus)); then point consumers (and further appends) at
        the returned job."""
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
        digest = self._dictionary_digest()
        self._check_config_matches_base(manifest, digest)
        missing = [s for s in self._required_stages()
                   if manifest.get(s, {}).get("status") != "ok"]
        if missing:
            raise ValueError(f"source base run incomplete: {missing}")
        # a half-committed batch would compact per-stage into an
        # INCONSISTENT base (its turns present, its graph absent) with
        # the retry path gone — refuse until it completes
        self._check_batches_complete(manifest)
        target = KGJob(self.spark, new_workdir, dictionary=self.dictionary,
                       detect=self.detect, relations=self.relations)
        # fold dict/relations into the target's fingerprints (exactly as
        # run() would) so post-compaction appends pass the config check
        fp = target._effective_fp(input_fingerprint, digest)
        per_batch_dirs = self._layout(manifest) == 1
        for stage_name in self._required_stages():
            src = ("linked" if stage_name == "mentions" and "linked" in
                   manifest else stage_name)
            rows = [manifest[k].get("rows") for k in [src] + [
                f"{src}@{b}" for b in _batch_ids(manifest, src)]]
            if per_batch_dirs:
                # base <stage>/ plus batches/<id>/<stage>: Spark refuses
                # several roots that each hold pt= dirs, hence a union
                reader = self.spark.read.schema(StructType.fromJson(
                    json.loads(manifest[src]["schema"])))
                dirs = [src] + [f"batches/{b}/{src}" for b
                                in _batch_ids(manifest, src)]
                df = reduce(DataFrame.unionByName, [
                    reader.parquet(os.path.join(self.workdir, d)).drop("pt")
                    for d in dirs])
            else:
                df = self._read_committed(src)
            target._run_stage(stage_name, fp,
                              lambda d=self._rollup(stage_name, df): d,
                              in_rows=None if None in rows else sum(rows))
        return target

    def batch_ids(self, stage: str = "graph") -> list[str]:
        """Batch ids with a committed row for ``stage``, append order."""
        return _batch_ids(self._read_manifest(), stage)

    def table(self, name: str, until: str | None = None) -> DataFrame:
        """The combined view of stage ``name``: base run plus every
        committed batch, read as ONE parquet relation over the committed
        epochs.  ``entity_stats`` re-aggregates the per-run aggregates
        (exact under the disjoint-conversation contract — counts AND
        distinct-conv counts are additive across disjoint batches).
        ``linked`` and ``edges`` are views of ``mentions`` and ``graph``.

        ``until``: snapshot read — include batches only up to and
        including this batch_id in append (manifest) order, the
        Iceberg time-travel analogue over the manifest's append log.
        ``until=''`` reads the base run alone.  Exact for the same
        reason appends are: committed batch outputs are immutable and
        delta-complete, so a prefix of them IS the graph as it stood
        after that append."""
        self._check_layout(self._read_manifest())
        if name == "linked":
            return self._linked(self._read_committed("mentions", until))
        if name == "edges":
            return canonicalize.adjacency_edges(
                self._read_committed("graph", until))
        return self._rollup(name, self._read_committed(name, until=until))

    @staticmethod
    def _rollup(name: str, df: DataFrame) -> DataFrame:
        """``entity_stats``: the agg of the per-run aggregates."""
        if name != "entity_stats":
            return df
        return (df.groupBy("entity_iri", "canonical")
                  .agg(F.sum("n_mentions").alias("n_mentions"),
                       F.sum("n_convs").alias("n_convs")))
