"""Similarity search over embedding columns.

* ``bruteforce_topk`` — exact cosine top-k: broadcast the (small) query
  set, JVM higher-order-function dot products, window-ranked top-k.  The
  baseline and the verification oracle.
* ``random_hyperplane_signatures`` / ``lsh_topk`` — the scale path:
  sign-of-projection LSH.  Hyperplanes derive deterministically from a
  seed via a hash → uniform(-1,1) construction (no RNG state, stable
  across executors/runs — the same trick the synthetic data generator
  uses).  Buckets bound the candidate set; exact cosine re-ranks inside
  buckets (multi-probe via several tables, not wider beams).
* ``ivf_assign`` / ``probe_cells`` / ``ivf_topk`` and the persistent
  index (``write_ann_index`` / ``ann_query_index``) — inverted-file
  search over a centroid quantizer.

The three projection kernels (signatures, cell assignment, cell
probing) share one implementation: a vectorized pandas UDF that stacks
each Arrow batch into a matrix and multiplies it by the plane/centroid
matrix, which travels in the task closure, never in the plan.  The plan
stays constant-size at any dim, and at 200k rows the matmul measured
3–5× faster than per-element JVM dot products against literal arrays,
which win only on calls of about 1k rows, by a fixed ~0.2 s.
A null vector yields a null bucket/cell/cells, so bucket and cell joins
drop it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def _norm(vec_col):
    return F.sqrt(F.aggregate(vec_col, F.lit(0.0),
                              lambda acc, x: acc + x * x))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _normed(df: DataFrame, id_col: str, vec_col: str,
            names=("vec_id", "v", "nv")) -> DataFrame:
    """(id, vector, L2 norm) under the kernel's column ``names`` — the
    corpus side by default, ``("q_id", "q", "nq")`` for queries."""
    return df.select(F.col(id_col).alias(names[0]),
                     F.col(vec_col).alias(names[1]),
                     _norm(F.col(vec_col)).alias(names[2]))


def _rank_topk(pairs: DataFrame, k: int,
               round_digits: int | None = None) -> DataFrame:
    """Exact-cosine re-rank of candidate pairs (vec_id, v, nv, q_id, q,
    nq): each query's ``k`` best by cosine, vec_id breaking ties, as the
    (q_id, vec_id, cosine, rank) contract.  ``round_digits`` rounds the
    cosine BEFORE ranking so float ulps can't flip ranks across
    engines."""
    cos = _dot(F.col("v"), F.col("q")) / (F.col("nv") * F.col("nq"))
    if round_digits is not None:
        cos = F.round(cos, round_digits)
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id"))
    return (pairs.withColumn("cosine", cos)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("q_id", "vec_id", F.round("cosine", 6).alias("cosine"),
                    "rank"))


def _projection(df: DataFrame, name: str, vec_col: str, return_type,
                mat_t, reduce, round_digits: int | None = None) -> DataFrame:
    """Adds ``name``: the one projection kernel behind the signatures,
    cell assignment and cell probing.  A vectorized pandas UDF stacks
    each Arrow batch's non-null vectors into a matrix, multiplies it by
    ``mat_t`` (dim × k: planes or centroids, carried in the closure,
    never in the plan), rounds the dots to ``round_digits`` when set,
    and ``reduce`` maps the (rows × k) scores to one value per row — an
    integer array, or a rows × n matrix for an array column.  A null
    vector yields null."""
    import numpy as np

    def _kernel(vecs):
        import pandas as pd
        valid = vecs.notna().to_numpy()
        rows = [np.asarray(v, dtype=np.float64) for v in vecs[valid]]
        mat = np.vstack(rows) if rows else np.zeros((0, mat_t.shape[0]))
        scores = mat @ mat_t
        if round_digits is not None:
            scores = np.round(scores, round_digits)
        values = reduce(scores)
        if values.ndim == 1:                      # bucket / cell
            out = np.zeros(len(valid), dtype=values.dtype)
            out[valid] = values
            return pd.Series(pd.arrays.IntegerArray(out, ~valid))
        per_row = iter(values.tolist())           # cells: a list per row
        return pd.Series([next(per_row) if ok else None for ok in valid])
    _kernel.__name__ = f"_{name}"         # names the UDF in plans
    return df.withColumn(
        name, F.pandas_udf(_kernel, return_type)(F.col(vec_col)))


def _centroid_matrix(centroids, caller: str):
    """The dim × cells matrix of a non-empty centroid list."""
    import numpy as np
    if not centroids:
        raise ValueError(
            f"{caller} needs at least one centroid (empty corpus? "
            "bruteforce_topk handles the degenerate case)")
    return np.asarray(centroids, dtype=np.float64).T


def bruteforce_topk(emb: DataFrame, queries: DataFrame, k: int = 10,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    q_id_col: str = "q_id", q_vec_col: str = "q_vec",
                    round_digits: int | None = None) -> DataFrame:
    """Exact top-k by cosine for each query: broadcast queries × corpus,
    rank per query. One scan of the corpus; no shuffle of the corpus.
    ``round_digits`` rounds cosines BEFORE ranking — set it when comparing
    rankings across engines so float ulps can't flip ranks."""
    qs = _normed(queries, q_id_col, q_vec_col, ("q_id", "q", "nq"))
    return _rank_topk(_normed(emb, id_col, vec_col).join(F.broadcast(qs)),
                      k, round_digits)


def hyperplanes(dim: int, n_planes: int, seed: int = 42):
    """Deterministic pseudo-random hyperplanes as a Python list of lists
    (shipped to the projection kernel's closure): plane[p][d] =
    hash(seed, p, d) → (-1, 1).

    ``n_planes`` is capped at 63: bucket bit b is weighted 1 << b into a
    signed 64-bit bucket id, so a 64th plane would overflow LongType (use
    several independent tables — multi-probe — rather than wider buckets,
    which would be empty at any realistic corpus size anyway)."""
    import numpy as np
    if n_planes > 63:
        raise ValueError(
            f"n_planes={n_planes} > 63 overflows the int64 bucket id; "
            "use multiple tables (different seeds) instead of wider buckets")
    out = []
    old = np.seterr(over="ignore")
    try:
        for p in range(n_planes):
            # splitmix64-style mix of (seed, p, d) — stable everywhere
            d_ix = np.arange(dim, dtype=np.uint64)
            x = (np.uint64(seed) * np.uint64(0x9E3779B97F4A7C15)
                 + np.uint64(p + 1) * np.uint64(0xBF58476D1CE4E5B9)
                 + (d_ix + np.uint64(1)) * np.uint64(0x94D049BB133111EB))
            x ^= x >> np.uint64(30)
            x *= np.uint64(0xBF58476D1CE4E5B9)
            x ^= x >> np.uint64(27)
            vals = (x.astype(np.float64) / 2**64) * 2.0 - 1.0
            out.append([float(v) for v in vals])
    finally:
        np.seterr(**old)
    return out


def random_hyperplane_signatures(df: DataFrame, vec_col: str,
                                 planes,
                                 round_digits: int | None = None) -> DataFrame:
    """Adds ``bucket``: bit b = (v · plane_b >= 0), packed into a long;
    null for a null vector.

    ``round_digits`` rounds each dot product before taking its sign —
    set it when bucket assignments must be bit-identical across engines
    (e.g. the DuckDB oracle of dedup.dedup_embeddings): float summation
    order can differ between the matmul and another engine's kernel,
    and a dot that lands within an ulp of zero would otherwise flip a
    bit.

    One matmul per Arrow batch (the module's projection kernel):
    sign(V @ P.T) packed to an int bucket."""
    import numpy as np
    from pyspark.sql.types import LongType
    if len(planes) > 63:
        raise ValueError("more than 63 planes overflows the int64 bucket id")
    weights = (1 << np.arange(len(planes), dtype=np.int64))
    return _projection(df, "bucket", vec_col, LongType(),
                       np.asarray(planes, dtype=np.float64).T,
                       lambda scores: (scores >= 0.0) @ weights,
                       round_digits)


def ivf_assign(emb: DataFrame, centroids, vec_col: str = "v") -> DataFrame:
    """Adds ``cell``: index of the centroid with the LARGEST INNER
    PRODUCT (the standard IVF-IP coarse quantizer), the first index on
    a tie; null for a null vector.  Note this is NOT
    cosine when centroid norms differ — Lloyd means have unequal norms,
    so a large-norm centroid can win at a wider angle; for true
    cosine-cell geometry, L2-normalize the centroids (and vectors)
    before calling.  ivf_topk's downstream rerank scores candidates by
    exact cosine either way, which bounds the recall impact; the
    tested recall floor in test_dataops covers this quantizer as-is.
    The argmax runs over one matmul per Arrow batch (the module's
    projection kernel)."""
    import numpy as np
    from pyspark.sql.types import IntegerType
    return _projection(emb, "cell", vec_col, IntegerType(),
                       _centroid_matrix(centroids, "ivf_assign"),
                       lambda scores: np.argmax(scores, axis=1)
                       .astype(np.int32))


def kmeans_centroids(emb: DataFrame, n_cells: int = 16, iters: int = 2,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> list:
    """Deterministic Lloyd refinement for the IVF quantizer: seed with the
    first ``n_cells`` vectors by id (stable), then ``iters`` rounds of
    assign (ivf_assign) + element-wise mean per
    cell (posexplode → groupBy(cell, pos) avg — one shuffle of
    rows × dim scalars with map-side partial agg).  ``iters=0`` returns
    the seed itself, the flat quantizer.  Only the centroid
    matrix (n_cells × dim) ever reaches the driver.  Empty cells keep
    their previous centroid."""
    base = emb.select(F.col(id_col).alias("vec_id"),
                      F.col(vec_col).alias("v"))
    cents = [list(r.v) for r in
             base.orderBy("vec_id").limit(n_cells).collect()]
    dim = len(cents[0]) if cents else 0
    for _ in range(iters):
        assigned = ivf_assign(base, cents, "v")
        means = (assigned
                 .select("cell", F.posexplode("v").alias("pos", "x"))
                 .groupBy("cell", "pos").agg(F.avg("x").alias("m"))
                 .collect())
        new = [list(c) for c in cents]
        by_cell: dict = {}
        for r in means:
            by_cell.setdefault(r.cell, {})[r.pos] = r.m
        for cell, poses in by_cell.items():
            if len(poses) == dim:
                new[cell] = [poses[p] for p in range(dim)]
        cents = new
    return cents


def probe_cells(q: DataFrame, centroids, nprobe: int,
                vec_col: str = "q",
                round_digits: int | None = None) -> DataFrame:
    """Adds ``cells`` (array<int>): the ``nprobe`` nearest centroids by
    dot product, ordered score-desc with cell-asc tie-break; null for a
    null vector.  An empty centroid list raises, as in ivf_assign.

    ``round_digits`` rounds each centroid dot BEFORE ranking — set it
    when probe order must be bit-identical across engines (the DuckDB
    oracle recomputes the same dots; summation order differs between a
    numpy matmul and another engine's kernel, and two cells
    within an ulp of each other would otherwise swap probe ranks).

    One matmul per Arrow batch (the module's projection kernel), then a
    stable argsort on −score, which keeps tied cells in ascending
    order."""
    import numpy as np
    from pyspark.sql.types import ArrayType, IntegerType
    top = int(nprobe)
    return _projection(q, "cells", vec_col, ArrayType(IntegerType()),
                       _centroid_matrix(centroids, "probe_cells"),
                       lambda scores: np.argsort(
                           -scores, axis=1, kind="stable")[:, :top]
                       .astype(np.int32),
                       round_digits)


def ivf_topk(emb: DataFrame, queries: DataFrame, k: int = 10,
             n_cells: int = 16, nprobe: int = 2,
             id_col: str = "vec_id", vec_col: str = "embedding",
             q_id_col: str = "q_id", q_vec_col: str = "q_vec",
             refine_iters: int = 0) -> DataFrame:
    """IVF (inverted-file) approximate top-k: vectors are assigned to the
    nearest of ``n_cells`` centroids; each query probes its ``nprobe``
    nearest cells and exact cosine re-ranks inside them.

    The flat quantizer seeds from the first ``n_cells`` corpus vectors by
    id (deterministic); ``refine_iters`` > 0 runs that many Lloyd rounds
    (kmeans_centroids) to balance the cells — the assignment/probing plan
    is identical either way.  Candidate volume per query ≈
    corpus × nprobe / n_cells."""
    cents = kmeans_centroids(emb, n_cells, refine_iters, id_col, vec_col)
    base = ivf_assign(_normed(emb, id_col, vec_col), cents, "v")
    # query probes: rank cells per query, keep nprobe
    q = _normed(queries, q_id_col, q_vec_col, ("q_id", "q", "nq"))
    probes = (probe_cells(q, cents, nprobe, "q")
              .select("q_id", F.explode("cells").alias("cell")))
    return _rank_topk(base.join(F.broadcast(probes), "cell")
                      .join(F.broadcast(q), "q_id"), k)


def lsh_topk(emb: DataFrame, queries: DataFrame, k: int = 10,
             n_planes: int = 8, seed: int = 42,
             id_col: str = "vec_id", vec_col: str = "embedding",
             q_id_col: str = "q_id", q_vec_col: str = "q_vec",
             dim: int | None = None,
             round_digits: int | None = None,
             sig_round_digits: int | None = None) -> DataFrame:
    """Approximate top-k: candidates share the query's hyperplane-sign
    bucket; exact cosine re-ranks within the bucket.  2^n_planes buckets →
    corpus/2^n candidates per query on average.

    Pass ``dim`` explicitly at call sites — the fallback inference reads
    one corpus row on the driver (a planning-path round trip, fine in a
    notebook, wasteful inside a job).

    Cross-engine determinism knobs (both default off): ``round_digits``
    rounds the re-rank cosine BEFORE ranking (same contract as
    bruteforce_topk); ``sig_round_digits`` rounds each plane dot before
    its sign is taken (same contract as
    random_hyperplane_signatures(round_digits=)) so bucket assignments
    are bit-identical across engines."""
    if dim is None:
        row = emb.select(vec_col).first()
        if row is None:
            raise ValueError(
                "cannot infer dim from an empty corpus; pass dim=")
        dim = len(row[0])
    planes = hyperplanes(dim, n_planes, seed)
    base = random_hyperplane_signatures(
        _normed(emb, id_col, vec_col), "v", planes,
        round_digits=sig_round_digits)
    qs = random_hyperplane_signatures(
        _normed(queries, q_id_col, q_vec_col, ("q_id", "q", "nq")), "q",
        planes, round_digits=sig_round_digits)
    return _rank_topk(base.join(F.broadcast(qs), "bucket"), k, round_digits)


# ---------------------------------------------------------------------------
# Persistent IVF index: vector-search twin of dedup.write_dedup_index.

_ANN_META = "_versa_ann_index.json"

# ann_query_index reads the whole vectors/ table in one plain scan once a
# batch probes at least this fraction of the cells, and prunes to the
# probed cell partitions below it (ABBA-ordered laps at 1M×d64 measured a
# full-coverage batch ~2× slower through the pruned multi-file path, and
# small serving batches ≥4× faster with pruning)
_FULL_SCAN_FRACTION = 0.8


def write_ann_index(emb: DataFrame, path: str, n_cells: int = 16,
                    refine_iters: int = 2, id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    mode: str = "overwrite") -> None:
    """Persist an IVF index: vectors assigned to their nearest centroid
    and written as ``vectors/`` parquet PARTITIONED BY cell, with the
    centroid matrix in a JSON sidecar (float repr round-trips exactly).
    A later :func:`ann_query_index` probes only its queries' cells —
    partition pruning skips every other cell's files entirely, the
    on-disk analogue of IVF's candidate bound (corpus × nprobe /
    n_cells).

    ``mode`` is ``'overwrite'`` or ``'append'``.  ``'append'`` adds
    vectors to an existing index using the STORED centroids (classic
    IVF ingestion: the quantizer is frozen between rebuilds; heavy drift
    in the appended distribution degrades cell balance, not correctness
    — rebuild with 'overwrite' on the usual refresh cadence).
    ``refine_iters`` Lloyd rounds balance the initial cells; only the
    n_cells × dim centroid matrix ever reaches the driver.

    Crash consistency: every write deletes the sidecar before the
    vectors write and re-writes it after they land, so an interrupted
    build, append or overwrite leaves a sidecar-less index that readers
    refuse rather than vectors under the wrong quantizer."""
    from versa_spark.storage import delete_sidecar, write_json_sidecar
    if mode not in ("overwrite", "append"):
        raise ValueError(f"unknown mode {mode!r} (use 'overwrite', "
                         "'append')")
    spark = emb.sparkSession
    if mode == "append":
        meta = read_ann_index_meta(spark, path)
        if meta is None:
            raise ValueError(f"no ANN index sidecar at {path}")
        cents = meta["centroids"]
    else:
        cents = kmeans_centroids(emb, n_cells, refine_iters, id_col,
                                 vec_col)
    assigned = ivf_assign(_normed(emb, id_col, vec_col), cents, "v")
    delete_sidecar(spark, f"{path}/{_ANN_META}")
    # hash-repartition by cell BEFORE partitionBy: each cell's rows land
    # in exactly one task, so the layout is one file per cell instead of
    # (cells × shuffle-partitions) small files — a 1M-vector lap
    # measured the fragmented layout costing 3× on query scans
    (assigned.select("cell", "vec_id", "v", "nv")
     .repartition(F.col("cell"))
     .write.mode(mode).partitionBy("cell").parquet(f"{path}/vectors"))
    write_json_sidecar(spark, f"{path}/{_ANN_META}",
                       {"n_cells": len(cents), "dim": len(cents[0]),
                        "centroids": cents})


def read_ann_index_meta(spark, path: str) -> dict | None:
    """The stored quantizer (None if absent); read failures propagate —
    probing with re-derived centroids against a differently-quantized
    index would silently miss everything."""
    from versa_spark.storage import read_json_sidecar
    return read_json_sidecar(spark, f"{path}/{_ANN_META}")


def ann_query_index(queries: DataFrame, path: str, k: int = 10,
                    nprobe: int = 2, q_id_col: str = "q_id",
                    q_vec_col: str = "q_vec") -> DataFrame:
    """Top-k over a stored :func:`write_ann_index`: rank the stored
    centroids per query, take each query's ``nprobe`` nearest cells, and
    exact-cosine re-rank inside them — reading ONLY the probed cells'
    files.  The probed-cell set is collected to the driver (≤ n_cells
    values — bounded by the quantizer, not the data) and applied as a
    LITERAL ``cell IN (…)`` filter, which Spark turns into partition
    pruning on the ``vectors/`` scan; the per-query (q_id, cell) probe
    table and the query vectors broadcast into the pruned scan, so the
    corpus side never shuffles.

    Returns (q_id, vec_id, cosine, rank) — the :func:`ivf_topk` contract;
    with identical parameters the results are identical (test-asserted),
    the difference is that the corpus assignment work happened once at
    index time.

    Partition pruning pays off only when the batch's probes cover a
    small fraction of the cells, so a batch probing at least
    ``_FULL_SCAN_FRACTION`` of the stored cells reads the table in one
    plain scan instead (the probes join still restricts rows, so the
    results are identical — the choice only changes the scan).

    The returned frame is eagerly checkpointed (<= |queries| x k rows)
    and the internal probes checkpoint is released before returning, so
    a long-lived serving session accumulates only the small results it
    still holds — release those with cacheutil.release_checkpoint when
    done."""
    spark = queries.sparkSession
    meta = read_ann_index_meta(spark, path)
    if meta is None:
        raise ValueError(f"no ANN index sidecar at {path}")
    q = _normed(queries, q_id_col, q_vec_col, ("q_id", "q", "nq"))
    # the probes feed both the cells-collect below and the result's
    # probes join, so they are checkpointed (the probe DAG runs once).
    # That checkpoint pins blocks for the JVM's lifetime: eagerly
    # checkpoint the (small, <= |queries| x k rows) RESULT and release
    # the probes in finally — the decontaminate_fuzzy discipline — so
    # repeated queries in a long-lived serving session don't accumulate
    # pinned probe tables
    probes = (probe_cells(q, meta["centroids"], nprobe, "q")
              .select("q_id", F.explode("cells").alias("cell"))
              .localCheckpoint(eager=True))
    try:
        cells = sorted({r.cell for r in probes.select("cell")
                        .distinct().collect()})
        base = spark.read.parquet(f"{path}/vectors")
        if len(cells) < _FULL_SCAN_FRACTION * meta["n_cells"]:
            base = base.filter(F.col("cell").isin(cells))
        out = _rank_topk(base.join(F.broadcast(probes), "cell")
                         .join(F.broadcast(q), "q_id"), k)
        return out.localCheckpoint(eager=True)
    finally:
        # only safe because the result checkpoint above truncated lineage
        from versa_spark.cacheutil import release_checkpoint
        release_checkpoint(probes)
