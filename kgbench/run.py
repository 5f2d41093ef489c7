"""kgbench: end-to-end and per-layer benchmark of versa_spark's durable paths.

    python3 kgbench/run.py --workload kg_ingest --seed 1 --seconds 20 --trace 0

Run from the root of a checkout (the library is imported from there).  The
workload's inputs are generated from ``--seed`` into a scratch directory in
the checkout before the Spark session starts; the library only sees those
files.  The run then sets up (session start, the workload's base build,
a warm-up round of one full-size batch), measures a closed loop with one client for
``--seconds``, checks every output, and prints human-readable lines plus,
last, one JSON object: end-to-end metrics with ``--trace 0``, per-layer
metrics (from the Spark event log) with ``--trace 1``.  ``--workload all``
runs every workload in turn.  The exit code is 1 when any output check
fails.  NOTES.md explains the workloads, metrics and layers.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass, field

from evlog import covered_s, read_event_log

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("kg_ingest", "dedup_ingest")
HEAP = "2g"
# C1-only JIT.  With the default tiered C2, per-op latency kept falling
# for minutes (dedup batches 6.3 s -> 3.9 s over 8 batches) while C2
# threads competed with tasks for the 4 cores; under C1 only the first
# round is slow.  Its larger code cache keeps C1 from filling the
# default one, which stops compilation and slows every later op.
JIT_OPTS = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=512m"
SHUFFLE_PARTITIONS = 8
SAMPLE_CONVS = 3
# End-to-end metrics in the JSON.  The op latency (op_p50_s) is printed
# but left out: it follows the CPU time the hypervisor gives to other
# guests (NOTES.md), which moved it by 0.29 (quartile distance over
# median) across ten runs of the same code.
E2E_UNITS = {"setup_s": "s", "cpu_s_per_kitem": "s",
             "disk_bytes_per_item": "bytes"}
# the name op_p50_s prints under, per workload
OP_NAME = {"kg_ingest": "append", "dedup_ingest": "dedup"}
KG_STAGES = (("kg.transcripts", "turns"), ("kg.transcripts", "turn_order"),
             ("kg.extract", "mentions"), ("kg.linking", "linked"),
             ("kg.canonicalize", "graph"), ("kg.canonicalize", "edges"),
             ("kg.canonicalize", "entity_stats"))
STAGE_FIELDS = (("wall_s", "s"), ("rows", "count"), ("spark_jobs", "count"),
                ("task_s", "s"), ("gc_s", "s"),
                ("shuffle_write_bytes", "bytes"))
LAYER_UNITS = {
    **{f"{m}.{s}.{f}": u for m, s in KG_STAGES for f, u in STAGE_FIELDS},
    "kg.job.spark_jobs": "count", "kg.job.driver_s": "s",
    "kg.job.overlap_scan_s": "s", "kg.job.files_written": "count",
    "kg.job.table_union_inputs": "count",
    "ops.match_s": "s", "ops.follow_s": "s",
    "dedup.index_match_s": "s", "dedup.index_append_s": "s",
    "dedup.spark_jobs": "count", "dedup.candidates": "count",
    "dedup.matched": "count", "dedup.verify_yield": "ratio",
    "spark.tasks": "count", "spark.scheduler_delay_s": "s",
    "spark.peak_exec_mem_mb": "MB", "jvm.gc_s": "s",
}
# Traced counters that are 0 on both workloads at the parent commit:
# printed, kept out of the JSON.  A nonzero value is the news.
GUARD_UNITS = {**{f"{m}.{s}.spill_bytes": "bytes" for m, s in KG_STAGES},
               "python.eval_nodes": "count"}


# -- the process tree: CPU ----------------------------------------------------

def _proc_tree() -> list[int]:
    """This process and all its descendants (the JVM, Python workers)."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    tree, frontier = [os.getpid()], [os.getpid()]
    while frontier:
        kids = [p for p, pp in parent.items() if pp in frontier]
        tree += kids
        frontier = kids
    return tree


def tree_cpu_s() -> float:
    """User+system CPU of the live tree, including reaped children."""
    ticks = 0
    for pid in _proc_tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> list[int]:
    """The host's CPU time counters (user .. steal), from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, files) under path."""
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += 1
    return size, files


# -- Spark session -----------------------------------------------------------

def start_session(work: str, trace: bool):
    """A session sized for a 4-core, 15 GB host: fixed heap committed and
    touched up front (no heap growth/shrink during the loop), UI off,
    fixed shuffle partitions, and every scratch file inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # also covers the launcher JVM, which would write /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    from pyspark.sql import SparkSession
    ncpu = len(os.sched_getaffinity(0))
    b = (SparkSession.builder.master(f"local[{ncpu}]").appName("kgbench")
         .config("spark.driver.memory", HEAP)
         .config("spark.driver.extraJavaOptions",
                 f"-Xms{HEAP} -XX:+AlwaysPreTouch {JIT_OPTS} "
                 f"-Djava.io.tmpdir={tmp}")
         .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.local.dir", os.path.join(work, "local"))
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
         .config("spark.eventLog.enabled", "true" if trace else "false"))
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        b = (b.config("spark.eventLog.dir", "file://" + events)
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM has exited."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_gc_s(spark) -> float:
    beans = (spark._jvm.java.lang.management.ManagementFactory
             .getGarbageCollectorMXBeans())
    return sum(beans.get(i).getCollectionTime()
               for i in range(beans.size())) / 1000.0


# -- operation log ------------------------------------------------------------

@dataclass
class Op:
    kind: str
    group: str
    t0: float
    t1: float
    cpu_s: float
    measured: bool
    extra: dict = field(default_factory=dict)
    failed: bool = False

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


class Recorder:
    """Runs each public call under its own Spark job group and times it.
    Calls made while ``measuring`` is false (set-up, warm-up) count as
    attempted operations but feed no metric; output checks run outside
    any call, under the job group ``check``."""

    def __init__(self, spark):
        self.spark = spark
        self.ops: list[Op] = []
        self.measuring = False
        self.failures: list[str] = []
        self._n = 0

    def call(self, kind: str, fn, **extra):
        self._n += 1
        group = f"{kind}:{self._n}"
        self.spark.sparkContext.setJobGroup(group, group)
        c0, t0 = tree_cpu_s(), time.time()
        out = fn()
        t1 = time.time()
        op = Op(kind, group, t0, t1, tree_cpu_s() - c0, self.measuring,
                dict(extra))
        self.ops.append(op)
        self.spark.sparkContext.setJobGroup("check", "check")
        return out, op

    def check(self, what: str, ok: bool, detail: str = "") -> None:
        """A failed check fails the latest operation, whose output (or
        the write just before it) it inspected."""
        if not ok:
            self.ops[-1].failed = True
            self.failures.append(f"{what}: {detail}")

    def measured(self, kind: str) -> list[Op]:
        return [o for o in self.ops if o.kind == kind and o.measured]


def tail(xs) -> tuple[float | None, float | None]:
    """(value, percentile) of the highest-ranked sample with at least ten
    samples above it; (None, None) with fewer than 20 samples, where that
    sample would sit below the median."""
    if len(xs) < 20:
        return None, None
    s = sorted(xs)
    i = len(s) - 11
    return s[i], 100.0 * (i + 1) / len(s)


# -- workloads ----------------------------------------------------------------

class Workload:
    """Closed loop, one client.  Set-up builds the source state (a base
    graph, an index) once, then warms up with a round of one batch.  Each
    round copies the source to a fresh directory and ingests every batch
    of the pool there in order (each write with its reads and checks), so
    every round starts from the same state and later writes see the
    earlier ones.  A round only starts when a round as long as the last
    one still fits the window; at the sizes gen.py writes, one round
    fills it."""

    op_kind = ""

    def __init__(self, spark, rec: Recorder, work: str, inp: str,
                 seed: int):
        self.spark, self.rec, self.work, self.inp = spark, rec, work, inp
        self.seed = seed
        with open(os.path.join(inp, "truth.json")) as f:
            self.truth = json.load(f)
        self.source = os.path.join(work, "source")
        self.round = 0

    def setup(self) -> None:
        self.build_source()
        wd, _ = self._round(warm_up=True)
        shutil.rmtree(wd)

    def measure(self, seconds: float) -> None:
        until = time.time() + seconds
        wd = None
        while True:
            t = time.time()
            if wd:
                shutil.rmtree(wd)
            wd, state = self._round()
            if 2 * time.time() - t > until:
                break
        self.final_check(state)
        shutil.rmtree(wd)

    def _round(self, warm_up: bool = False):
        self.round += 1
        wd = os.path.join(self.work, f"round{self.round}")
        shutil.copytree(self.source, wd)
        batches = self.truth["batches"]
        return wd, self.cycle(wd, batches[:1] if warm_up else batches)

    def build_source(self) -> None:
        raise NotImplementedError

    def cycle(self, wd: str, batches: list):
        """Ingest batches in order into the copy in wd; returns what
        final_check needs."""
        raise NotImplementedError

    def final_check(self, state) -> None:
        pass

    def end_to_end(self) -> dict:
        ops_ = self.rec.measured(self.op_kind)
        reads = self.rec.measured("read")
        items = sum(o.extra["items"] for o in ops_)
        return {
            "op_p50_s": statistics.median([o.wall for o in ops_]),
            "cpu_s_per_kitem": 1000 * sum(o.cpu_s for o in ops_) / items,
            "disk_bytes_per_item":
                sum(o.extra["disk_bytes"] for o in ops_) / items,
            "_samples": {"op": [o.wall for o in ops_],
                         "read": [o.wall for o in reads]},
        }


class KGIngest(Workload):
    """A completed base KGJob gets a sequence of small disjoint
    append_batch calls (on_existing='error', so each append scans the
    base and the earlier batches for overlap); after each, a fixed read
    set runs over the combined view, whose union grows from 2 to
    1 + len(pool) inputs within a round."""

    op_kind = "append"

    def _tx(self, sub: str):
        return self.spark.read.parquet(os.path.join(self.inp, sub))

    def _job(self, wd: str):
        from versa_spark.kg.job import KGJob
        return KGJob(self.spark, wd)

    def build_source(self) -> None:
        job = self._job(self.source)
        self.rec.call("build", lambda: job.run(
            self._tx("base"), input_fingerprint=f"seed{self.seed}"))
        self.base_graph_rows = job.metrics["graph"]["rows"]
        self._check_stats(job.table("entity_stats").collect(),
                          [self.truth["base"]], "base")
        self._check_reference(job, "base", self.truth["base"]["convs"],
                              f"s{self.seed}")

    def final_check(self, state) -> None:
        job, b = state
        self._check_reference(job, os.path.join("batches", b["id"]),
                              b["convs"], f"s{self.seed}{b['id']}")

    def cycle(self, wd: str, batches: list):
        job = self._job(wd)
        done, graph_rows = [self.truth["base"]], self.base_graph_rows
        for b in batches:
            done.append(b)
            graph_rows = self._append(job, wd, b, done, graph_rows)
        return job, b

    def _append(self, job, wd: str, b: dict, done: list,
                graph_rows: int) -> int:
        """Append batch b, run the read set, check both; return the
        combined graph rows."""
        from pyspark.sql import functions as F
        from versa_spark import ops
        from versa_spark.kg.extract import BASE, ENT, REL_HASTURN, REL_MENTIONS
        from versa_spark.testdata import with_quad_defaults
        bid = b["id"]
        tx = self._tx(os.path.join("batches", bid))
        bytes0, files0 = dir_usage(wd)
        _, op = self.rec.call("append", lambda: job.append_batch(
            tx, bid, input_fingerprint=f"seed{self.seed}:{bid}"),
            items=b["turns"])
        bytes1, files1 = dir_usage(wd)
        op.extra.update(
            disk_bytes=bytes1 - bytes0, files_written=files1 - files0,
            stages={s: job.metrics[f"{s}@{bid}"] for _, s in KG_STAGES})

        def reads():
            t = [time.time()]
            n_hot = ops.match(job.table("graph"), rel=REL_MENTIONS,
                              target=ENT + "spark").count()
            t.append(time.time())
            start = tx.select(F.concat(F.lit(BASE + "transcript/"),
                                       "conv_id").alias("node")).distinct()
            graph = with_quad_defaults(job.table("graph"))
            n_hops = ops.follow_hops(graph, start,
                                     [REL_HASTURN, REL_MENTIONS]).count()
            t.append(time.time())
            stats = job.table("entity_stats").collect()
            t.append(time.time())
            return n_hot, n_hops, stats, t

        union_inputs = 1 + len(job.batch_ids("graph"))
        (n_hot, n_hops, stats, t), rop = self.rec.call("read", reads)
        rop.extra.update(match_s=t[1] - t[0], follow_s=t[2] - t[1],
                         union_inputs=union_inputs)

        want_hot = sum(x["hot_turns"] for x in done)
        self.rec.check("match hot entity", n_hot == want_hot,
                       f"{n_hot} != {want_hot}")
        self.rec.check("follow_hops conv->turn->entity",
                       n_hops == b["mention_links"],
                       f"{n_hops} != {b['mention_links']}")
        self._check_stats(stats, done, f"after {bid}")
        want = graph_rows + op.extra["stages"]["graph"]["rows"]
        n = job.table("graph").count()
        self.rec.check("graph rows grow by the batch's rows", n == want,
                       f"{n} != {want}")
        return n

    def _check_stats(self, stats, done: list, where: str) -> None:
        want_m = sum(x["mentions"] for x in done)
        got_m = sum(r["n_mentions"] for r in stats)
        self.rec.check(f"entity_stats mentions ({where})", got_m == want_m,
                       f"{got_m} != {want_m}")
        want_e = sorted({e for x in done for e in x["entities"]})
        got_e = sorted(r["canonical"] for r in stats)
        self.rec.check(f"entity_stats entities ({where})", got_e == want_e,
                       f"{got_e} != {want_e}")

    def _check_reference(self, job, sub: str, n_convs: int,
                         prefix: str) -> None:
        """Graph triples of a seeded sample of conversations equal the
        Versa rule algebra's triples for the same rows."""
        import pyarrow.dataset as ds
        from pyspark.sql import functions as F
        from versa_spark.kg.extract import BASE
        from versa_spark.kg.reference_rules import reference_triples
        rng = random.Random(f"{self.seed}:{sub}")
        convs = [f"{prefix}-{i}" for i in rng.sample(range(n_convs),
                                                     SAMPLE_CONVS)]
        rows = (ds.dataset(os.path.join(self.inp, sub))
                .to_table(filter=ds.field("conv_id").isin(convs),
                          columns=["conv_id", "turn_idx", "role", "text",
                                   "tool"]).to_pylist())
        want = reference_triples([tuple(r.values()) for r in rows])
        nodes = sorted({f"{BASE}transcript/{c}" for c in convs}
                       | {o for o, _, _ in want})
        got = {(r["origin"], r["rel"], r["target"]) for r in
               job.table("graph").filter(F.col("origin").isin(nodes))
               .select("origin", "rel", "target").collect()}
        self.rec.check(f"reference triples ({sub})", got == want,
                       f"{len(got - want)} extra, {len(want - got)} missing")

    def layers(self, jobs_of, log) -> dict:
        ops_, reads = self.rec.measured("append"), self.rec.measured("read")
        n = len(ops_)
        out = {}
        for module, stage in KG_STAGES:
            acc = {f: 0 for f, _ in STAGE_FIELDS}
            acc["spill_bytes"] = 0
            for o in ops_:
                rec = o.extra["stages"][stage]
                w1 = rec["ts"]
                w0 = w1 - rec["wall_s"]
                acc["wall_s"] += rec["wall_s"]
                acc["rows"] += rec["rows"]
                for j in jobs_of(o):
                    if w0 - 0.005 <= j.start <= w1 + 0.005:
                        acc["spark_jobs"] += 1
                        acc["task_s"] += j.task_s
                        acc["gc_s"] += j.gc_s
                        acc["shuffle_write_bytes"] += j.shuffle_write_bytes
                        acc["spill_bytes"] += j.spill_bytes
            for k, v in acc.items():
                out[f"{module}.{stage}.{k}"] = v / n
        out.update({
            "kg.job.spark_jobs": sum(len(jobs_of(o)) for o in ops_) / n,
            "kg.job.driver_s": sum(o.wall - covered_s(jobs_of(o), o.t0, o.t1)
                                   for o in ops_) / n,
            # from the call to the first stage: manifest and config
            # checks plus the overlap scan of base + committed batches
            "kg.job.overlap_scan_s": sum(
                min(r["ts"] - r["wall_s"]
                    for r in o.extra["stages"].values()) - o.t0
                for o in ops_) / n,
            "kg.job.files_written":
                sum(o.extra["files_written"] for o in ops_) / n,
            "kg.job.table_union_inputs":
                sum(r.extra["union_inputs"] for r in reads) / len(reads),
            "ops.match_s":
                statistics.median([r.extra["match_s"] for r in reads]),
            "ops.follow_s":
                statistics.median([r.extra["follow_s"] for r in reads]),
        })
        return out


def indexed_ids(ix: str) -> set:
    """Document ids an LSH index holds, read from its sizes table."""
    import pyarrow.parquet as pq
    return set(pq.read_table(os.path.join(ix, "sizes"), columns=["doc_id"])
               .column("doc_id").to_pylist())


class DedupIngest(Workload):
    """A stored LSH index gets batches with a planted near-dup share: per
    batch, dedup_against_index(mode='remove') plus an index append of the
    survivors, which later batches then match against."""

    op_kind = "dedup"

    def build_source(self) -> None:
        from versa_spark import dedup
        docs = self.spark.read.parquet(os.path.join(self.inp, "index"))
        self.rec.call("index_build",
                      lambda: dedup.write_dedup_index(docs, self.source))
        n = len(indexed_ids(self.source))
        self.rec.check("index holds every document",
                       n == self.truth["index_docs"],
                       f"{n} != {self.truth['index_docs']}")

    def cycle(self, ix: str, batches: list) -> None:
        for b in batches:
            self._ingest(ix, b)

    def _ingest(self, ix: str, b: dict) -> None:
        from versa_spark import dedup
        docs = self.spark.read.parquet(
            os.path.join(self.inp, "batches", b["id"]))
        bytes0, _ = dir_usage(ix)
        before = indexed_ids(ix)

        def ingest():
            t0 = time.time()
            survivors = dedup.dedup_against_index(docs, ix, mode="remove")
            t1 = time.time()
            dedup.write_dedup_index(survivors, ix, mode="append")
            return t1 - t0, time.time() - t1

        (match_s, append_s), op = self.rec.call("dedup", ingest,
                                                items=b["docs"])
        op.extra.update(match_s=match_s, append_s=append_s,
                        disk_bytes=dir_usage(ix)[0] - bytes0)
        # the survivors are exactly the ids the append added to the index
        got = indexed_ids(ix) - before
        want = (set(range(b["first_id"], b["first_id"] + b["docs"]))
                - set(b["planted"]))
        self.rec.check(f"dedup removes exactly the planted ({b['id']})",
                       got == want,
                       f"{len(got - want)} kept dups, {len(want - got)} "
                       "false positives")
        op.extra["matched"] = b["docs"] - len(got)

    def layers(self, jobs_of, log) -> dict:
        ops_ = self.rec.measured("dedup")
        n = len(ops_)
        # the rows of dedup_against_index's persisted candidate distinct,
        # as the program's own scans of it counted them
        cands = sum(sum(log.cached_distinct_rows.get(o.group, []))
                    for o in ops_)
        matched = sum(o.extra["matched"] for o in ops_)
        return {
            "dedup.index_match_s":
                statistics.median([o.extra["match_s"] for o in ops_]),
            "dedup.index_append_s":
                statistics.median([o.extra["append_s"] for o in ops_]),
            "dedup.spark_jobs": sum(len(jobs_of(o)) for o in ops_) / n,
            "dedup.candidates": cands / n,
            "dedup.matched": matched / n,
            "dedup.verify_yield": matched / cands if cands else 0.0,
        }


# -- one run ------------------------------------------------------------------

def generate(workload: str, seed: int, out: str) -> None:
    subprocess.run([sys.executable, os.path.join(HERE, "gen.py"),
                    "--workload", workload, "--seed", str(seed),
                    "--out", out], check=True, timeout=170)


def run_one(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    work = os.path.join(ROOT, ".kgbench_work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        inp = os.path.join(work, "input")
        generate(workload, seed, inp)
        t0 = time.time()
        spark = start_session(work, trace)
        session_s = time.time() - t0
        try:
            rec = Recorder(spark)
            cls = KGIngest if workload == "kg_ingest" else DedupIngest
            w = cls(spark, rec, work, inp, seed)
            w.setup()
            setup_s = time.time() - t0
            gc0 = jvm_gc_s(spark) if trace else 0.0
            rec.measuring = True
            t_meas, ticks0 = time.time(), cpu_ticks()
            w.measure(seconds)
            t_meas_end, ticks1 = time.time(), cpu_ticks()
            rec.measuring = False
            gc1 = jvm_gc_s(spark) if trace else 0.0
            e2e = w.end_to_end()
            e2e["setup_s"] = setup_s
            d = [b - a for a, b in zip(ticks0, ticks1)]
            e2e["_steal"] = d[7] / sum(d)
        finally:
            stop_session(spark)
        layers = calls = None
        if trace:
            layers, calls = trace_layers(w, rec, os.path.join(work, "events"),
                                  t_meas, t_meas_end, gc1 - gc0)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return {"workload": workload, "seed": seed, "trace": trace,
            "e2e": e2e, "layers": layers, "call_jobs": calls,
            "setup_ops": [("session", session_s)]
            + [(o.kind, o.wall) for o in rec.ops if o.t1 <= t_meas],
            "attempted": len(rec.ops),
            "failed": sum(1 for o in rec.ops if o.failed),
            "failures": rec.failures}


def trace_layers(w, rec: Recorder, events: str, t0: float, t1: float,
                 gc_s: float) -> dict:
    log = read_event_log(events)
    by_group: dict[str, list] = {}
    for j in log.jobs:
        by_group.setdefault(j.group, []).append(j)

    def jobs_of(op: Op) -> list:
        return by_group.get(op.group, [])

    layers = w.layers(jobs_of, log)
    measured = [o for o in rec.ops if o.measured]
    window = [j for o in measured for j in jobs_of(o)]
    n = sum(1 for o in measured if o.kind != "read")
    layers["spark.tasks"] = sum(j.tasks for j in window) / n
    layers["spark.scheduler_delay_s"] = (
        sum(j.scheduler_delay_s for j in window) / n)
    layers["spark.peak_exec_mem_mb"] = max(
        (j.peak_exec_bytes for j in window), default=0) / 2**20
    layers["jvm.gc_s"] = gc_s / n
    layers["python.eval_nodes"] = sum(c for t, c in log.python_eval_nodes
                                      if t0 <= t <= t1)
    return layers, [(o.kind, len(jobs_of(o))) for o in measured]


def report(res: dict) -> dict:
    """Print the human-readable lines; return the contract JSON."""
    wl, e2e = res["workload"], res["e2e"]
    samples = e2e.pop("_samples")
    steal = e2e.pop("_steal")
    print(f"kgbench {wl} seed={res['seed']} trace={int(res['trace'])}")
    op = OP_NAME[wl]
    for k in E2E_UNITS:
        print(f"  {k:<22} {e2e[k]:.6g} {E2E_UNITS[k]}")
    print(f"  {op + '_p50_s':<22} {e2e['op_p50_s']:.6g} s")
    for kind, name in (("op", op), ("read", "read")):
        n = len(samples[kind])
        if not n:
            continue
        if kind == "read":
            print(f"  {'read_p50_s':<22} "
                  f"{statistics.median(samples[kind]):.6g} s")
        v, p = tail(samples[kind])
        if v is None:
            print(f"  {name + '_tail_s':<22} not reported: {n} samples, a "
                  "tail needs at least 20")
        else:
            print(f"  {name + '_tail_s':<22} {v:.6g} s (p{p:.0f} of {n})")
        print(f"  {name + '_samples_s':<22} "
              + " ".join(f"{x:.3f}" for x in samples[kind]))
    # time the hypervisor ran other guests on this VM's CPUs: timings from
    # a window with much of it are not comparable with calm ones
    print(f"  {'host_steal_share':<22} {steal:.3f}")
    err = res["failed"] / res["attempted"]
    print(f"  {'error_rate':<22} {err:.6g} "
          f"({res['failed']}/{res['attempted']})")
    print("  setup_ops_s            " + " ".join(
        f"{k}={v:.2f}" for k, v in res["setup_ops"]))
    for f in res["failures"]:
        print(f"  CHECK FAILED: {f}")
    print("  e2e " + json.dumps({k: e2e[k]
                                 for k in ("op_p50_s", *E2E_UNITS)}))
    if res["trace"]:
        print("  spark_jobs_per_call    " + " ".join(
            f"{k}={n}" for k, n in res["call_jobs"]))
        units = {**LAYER_UNITS, **GUARD_UNITS}
        for k, v in res["layers"].items():
            print(f"  {k:<40} {v:.6g} {units[k]}")
        # every traced run reports every per-layer metric; one of a layer
        # the workload does not call reads 0
        metrics = {k: {"value": res["layers"].get(k, 0.0), "unit": u}
                   for k, u in LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u}
                   for k, u in E2E_UNITS.items()}
    return {"correct": res["failed"] == 0, "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "versa_spark")):
        print(f"kgbench: no versa_spark package under {ROOT}; run from the "
              "root of a checkout", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    sys.path.insert(0, ROOT)
    res = run_one(args.workload, args.seed, args.seconds, bool(args.trace))
    out = report(res)
    print(json.dumps(out), flush=True)
    return 0 if out["correct"] else 1


def run_all(args) -> int:
    """Every workload in its own process; the last line merges them."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for wl in WORKLOADS:
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", wl,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True, check=False)
        lines = p.stdout.splitlines()
        print("\n".join(lines[:-1]))
        res = json.loads(lines[-1]) if lines else {"correct": False}
        merged["correct"] &= p.returncode == 0 and res["correct"]
        merged["attempted"] += res.get("attempted", 0)
        merged["failed"] += res.get("failed", 0) + (p.returncode != 0)
        for k, v in res.get("metrics", {}).items():
            merged["metrics"][f"{wl}.{k}"] = v
    print(json.dumps(merged), flush=True)
    return 0 if merged["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
