"""Model storage: partitioned Parquet link tables.

Replaces the reference's six storage drivers (SURVEY.md §1.4) with one
layout: links partitioned by ``obucket = pmod(xxhash64(origin), N)`` and
sorted within files by (origin, rel).  This restores, on Spark, the two
physical properties the reference engines relied on:

* origin point-lookups prune to one partition (the lmdb prefix-seek,
  driver/lmdb.py:117-168) — ``match(origin=…)`` touches 1/N of the data;
* (origin, rel) locality within row groups gives Parquet min/max row-group
  skipping (the sqlite ``(subj,pred)`` index, driver/sqlite.py:231).

IRI-prefix compression (lmdb.py:283-313) falls out of Parquet dictionary
encoding for free.  At Iceberg scale the same layout is
``PARTITIONED BY (bucket(N, origin))`` with a sort order of (origin, rel).
"""

from __future__ import annotations

import json
import math
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from versa_spark.model import LINK_COLS

# sidecar recording the layout parameters a reader MUST use: a
# match_stored with a different n_buckets than the writer's computes a
# different bucket for ~ (N-1)/N of origins and silently prunes away
# the partition that actually holds the rows
_META_FILE = "_versa_layout.json"


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for *path* via Hadoop's FileSystem API — the
    sidecar must land next to the data on whatever filesystem the model
    path names (hdfs://, s3a://, file:/…), not on the driver's local
    disk; a driver-local sidecar would silently disable the
    n_buckets-mismatch protection exactly where buckets matter most."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def _write_meta(spark: SparkSession, path: str, n_buckets: int) -> None:
    write_json_sidecar(spark, os.path.join(path, _META_FILE),
                       {"n_buckets": n_buckets, "bucket_hash": "xxhash64"})


def stored_n_buckets(path: str,
                     spark: SparkSession | None = None) -> int | None:
    """The bucket count a model at *path* was written with (None for
    tables predating the sidecar).  Reads through the Hadoop FileSystem
    API of *spark* (default: the active session), so non-local model
    paths (hdfs://, s3a://) resolve.  ONLY a genuinely-absent sidecar
    degrades to None; read/parse/transport failures propagate —
    swallowing e.g. a transient S3 error here would silently disable
    the wrong-bucket-count guard and turn a retryable fault into an
    empty (wrongly pruned) query result."""
    meta = read_json_sidecar(spark, os.path.join(path, _META_FILE))
    return None if meta is None else int(meta["n_buckets"])


def write_model(df: DataFrame, path: str, n_buckets: int = 64,
                mode: str = "overwrite") -> None:
    """Write a link DataFrame as an origin-bucketed Parquet model table.

    The in-partition sort leads with ``obucket`` so the dynamic-
    partition writer's required ordering is already satisfied — without
    it Spark inserts a SECOND full sort keyed on obucket alone, both
    paying the sort twice and voiding any guarantee that (origin, rel)
    order survives into the files (the property the row-group-skipping
    claim above rests on)."""
    out = (df.select(*[c for c in LINK_COLS if c in df.columns])
           .withColumn("obucket",
                       F.pmod(F.xxhash64("origin"), F.lit(n_buckets)))
           .sortWithinPartitions("obucket", "origin", "rel"))
    out.write.mode(mode).partitionBy("obucket").parquet(path)
    _write_meta(df.sparkSession, path, n_buckets)


def read_model(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def _split_count(size: int, cores: int, max_bytes: int, open_cost: int,
                 unknown: int) -> int | None:
    """Files to write ``size`` estimated bytes as: Spark's file-scan
    split rule (``FilePartition.maxSplitBytes``) without its per-file
    open-cost padding — ``split = min(max_bytes, max(open_cost,
    size / cores))``, ``ceil(size / split)`` files.  So a write of at
    least ``cores × open_cost`` bytes keeps ``cores`` tasks, and no file
    holds more than one scan split.  None when the size is ``unknown``
    (``spark.sql.defaultSizeInBytes``: no statistics) or the count
    overflows a JVM int (a join's product estimate, not a size)."""
    if size >= unknown:
        return None
    split = min(max_bytes, max(open_cost, size / cores))
    n = max(1, math.ceil(size / split))
    return n if n < 2**31 else None


def _split_sized(df: DataFrame, rows: int | None = None) -> DataFrame:
    """``df`` coalesced (no shuffle) to the file count
    :func:`_split_count` gives its estimated size, so a small write
    lands in one file, not one per upstream partition (input split,
    union branch or shuffle partition).

    The size is the optimized plan's byte estimate (a driver-side call
    that runs no Spark job).  That estimate starts from a file scan's
    on-disk bytes, so compressible input reads as far smaller than the
    rows it decodes to, and a join reports its sides' product.  Given
    ``rows`` (a count the caller already holds, such as the rows the
    write reads), the size is at least ``rows`` times Spark's default
    row width (``EstimationUtils.getSizePerRow`` without column
    statistics), and an unusable plan estimate is ignored.  Without
    ``rows``, a frame whose estimate is unknown is returned as it is.
    ``coalesce`` never adds partitions, so a large write keeps its
    parallelism."""
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    unknown = conf.defaultSizeInBytes()
    size = int(df._jdf.queryExecution().optimizedPlan().stats()
               .sizeInBytes())
    if rows is not None:
        width = 8 + df._jdf.schema().defaultSize()
        size = max(rows * width, size if size < unknown else 0)
    n = _split_count(size, df.sparkSession.sparkContext.defaultParallelism,
                     conf.filesMaxPartitionBytes(),
                     conf.filesOpenCostInBytes(), unknown)
    return df if n is None else df.coalesce(n)


def write_graph_tables(graph: DataFrame, edges: DataFrame, base_path: str,
                       n_buckets: int = 64, mode: str = "overwrite",
                       fmt: str = "parquet") -> dict:
    """The north rule's materialize step: the graph link table plus the
    adjacency edge list, as two partitioned tables under *base_path*.

    * ``graph`` partitions by bucket(origin) — point lookups and
      origin-colocated joins prune to 1/N;
    * ``edges`` (src, rel, dst) partitions by bucket(src) — adjacency
      scans of a node prune the same way, and src-keyed traversal joins
      are co-partitioned with the graph table (same hash, same N).

    ``fmt='iceberg'`` is the production spelling (identical layout:
    ``PARTITIONED BY (bucket(N, origin))`` + sort order); this container
    ships no Iceberg catalog jars, so the tested path is Parquet with the
    same physical properties.  Returns the written paths."""
    if fmt == "iceberg":
        raise NotImplementedError(
            "no Iceberg catalog in this environment; production spelling: "
            "df.writeTo(tbl).partitionedBy(bucket(N, 'origin'))"
            ".using('iceberg').createOrReplace()")
    paths = {"graph": f"{base_path}/graph", "edges": f"{base_path}/edges"}
    write_model(graph, paths["graph"], n_buckets=n_buckets, mode=mode)
    e = (edges
         .withColumn("sbucket", F.pmod(F.xxhash64("src"),
                                       F.lit(n_buckets)))
         # lead with the partition column — see write_model
         .sortWithinPartitions("sbucket", "src", "rel"))
    e.write.mode(mode).partitionBy("sbucket").parquet(paths["edges"])
    _write_meta(edges.sparkSession, paths["edges"], n_buckets)
    return paths


def match_stored(model: DataFrame, origin=None, rel=None, target=None,
                 attrs=None, n_buckets: int = 64,
                 path: str | None = None) -> DataFrame:
    """match() over a stored model: when *origin* is given, add the
    equivalent obucket predicate so Catalyst prunes to one partition
    (partition pruning needs the literal bucket value — computed
    driver-side with the same hash).

    Pass *path* to read the writer's bucket count from the layout
    sidecar — a mismatched *n_buckets* computes the WRONG bucket for
    most origins and silently prunes away the data.  Truthiness
    wildcard semantics follow ops.match: a falsy origin (None or '')
    applies no origin predicate at all."""
    from versa_spark import ops
    out = model
    if path is not None:
        stored = stored_n_buckets(path, model.sparkSession)
        if stored is not None:
            n_buckets = stored
    if origin and "obucket" in model.columns:
        bucket = _bucket_of(model.sparkSession, str(origin), n_buckets)
        out = out.filter(F.col("obucket") == bucket)
    return ops.match(out, origin=origin, rel=rel, target=target,
                     attrs=attrs)


def _bucket_of(spark: SparkSession, origin: str, n_buckets: int) -> int:
    """xxhash64 is a JVM function; evaluate it once on a literal row."""
    return spark.range(1).select(
        F.pmod(F.xxhash64(F.lit(origin)), F.lit(n_buckets)).alias("b")
    ).first()["b"]


def iceberg_ddl(table: str = "kg.graph", n_buckets: int = 64,
                kind: str = "graph") -> list[str]:
    """The production Iceberg spelling of this module's layout, as
    executable SQL statements (no Iceberg runtime ships in this
    container, so these are emitted for the cluster that has one;
    the same partitioning and sort order as the tested Parquet layout):

    * bucket-transform partitioning = the obucket/sbucket column here;
    * WRITE ORDERED BY = the sortWithinPartitions(origin/src, rel) here
      (row-group min/max skipping on the second key);
    * write.distribution-mode=hash has no counterpart here: Iceberg
      shuffles rows by bucket before the write, so a commit writes about
      one file per bucket, where ``write_model`` / ``write_graph_tables``
      write one file per (write task, bucket) pair.
    """
    cols = {"graph": ("origin STRING, rel STRING, target STRING, "
                      "t_iri BOOLEAN", "origin"),
            "edges": ("src STRING, rel STRING, dst STRING", "src"),
            "transcripts": ("conv_id STRING, turn_idx INT, role STRING, "
                            "text STRING, tool STRING, ts TIMESTAMP",
                            "conv_id")}
    if kind not in cols:
        raise ValueError(f"unknown table kind {kind!r}")
    schema, key = cols[kind]
    sort_key = key if kind == "transcripts" else f"{key}, rel"
    return [
        f"CREATE TABLE {table} ({schema}) USING iceberg "
        f"PARTITIONED BY (bucket({n_buckets}, {key})) "
        f"TBLPROPERTIES ('write.distribution-mode'='hash', "
        f"'write.parquet.compression-codec'='zstd')",
        f"ALTER TABLE {table} WRITE ORDERED BY ({sort_key})",
    ]


def write_json_sidecar(spark: SparkSession, path: str, meta: dict) -> None:
    """Write a small JSON sidecar through the Hadoop FileSystem API (so
    hdfs://, s3a://, file:/ all land next to the data).  Shared by the
    model-layout sidecar and the LSH/IVF index sidecars."""
    fs, hpath = _hadoop_fs(spark, path)
    out = fs.create(hpath, True)
    try:
        out.write(json.dumps(meta).encode("ascii"))
    finally:
        out.close()


def read_json_sidecar(spark: SparkSession | None, path: str) -> dict | None:
    """Read a JSON sidecar (None if absent).  Read/parse/transport
    failures PROPAGATE — swallowing them would silently disable
    whatever guard the sidecar backs."""
    if spark is None:
        spark = SparkSession.getActiveSession()
    fs, hpath = _hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return None
    stream = fs.open(hpath)
    try:
        raw = spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8")
    finally:
        stream.close()
    return json.loads(raw)


def delete_sidecar(spark: SparkSession, path: str) -> None:
    """Remove a sidecar if present (used to INVALIDATE an index before a
    non-atomic multi-table append: an interrupted append then leaves no
    sidecar and readers refuse the index instead of silently computing
    wrong answers over mixed tables)."""
    fs, hpath = _hadoop_fs(spark, path)
    if fs.exists(hpath):
        fs.delete(hpath, False)


def hadoop_path_exists(spark: SparkSession, path: str) -> bool:
    """Existence check through the Hadoop FileSystem API — works on any
    filesystem a model/index path can name (hdfs://, s3a://, file:/…),
    unlike os.path.exists which only sees the driver's local disk."""
    fs, hpath = _hadoop_fs(spark, path)
    return bool(fs.exists(hpath))
