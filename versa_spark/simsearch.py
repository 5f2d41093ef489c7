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
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def _norm(vec_col):
    return F.sqrt(F.aggregate(vec_col, F.lit(0.0),
                              lambda acc, x: acc + x * x))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def bruteforce_topk(emb: DataFrame, queries: DataFrame, k: int = 10,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    q_id_col: str = "q_id", q_vec_col: str = "q_vec",
                    round_digits: int | None = None) -> DataFrame:
    """Exact top-k by cosine for each query: broadcast queries × corpus,
    rank per query. One scan of the corpus; no shuffle of the corpus.
    ``round_digits`` rounds cosines BEFORE ranking — set it when comparing
    rankings across engines so float ulps can't flip ranks."""
    base = emb.select(F.col(id_col).alias("vec_id"),
                      F.col(vec_col).alias("v"),
                      _norm(F.col(vec_col)).alias("nv"))
    qs = queries.select(F.col(q_id_col).alias("q_id"),
                        F.col(q_vec_col).alias("q"),
                        _norm(F.col(q_vec_col)).alias("nq"))
    cos = _dot(F.col("v"), F.col("q")) / (F.col("nv") * F.col("nq"))
    if round_digits is not None:
        cos = F.round(cos, round_digits)
    scored = (base.join(F.broadcast(qs)).withColumn("cosine", cos))
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("q_id", "vec_id", F.round("cosine", 6).alias("cosine"),
                    "rank"))


def hyperplanes(dim: int, n_planes: int, seed: int = 42):
    """Deterministic pseudo-random hyperplanes as a Python list of lists
    (broadcast as literals): plane[p][d] = hash(seed, p, d) → (-1, 1).

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


# Above this many plane/centroid literals the Catalyst expression tree
# (dim × planes F.lit nodes) dominates planning time and memory — switch
# to an Arrow-batched pandas UDF carrying the matrix in the closure.
_LITERAL_BUDGET = 4096


def random_hyperplane_signatures(df: DataFrame, vec_col: str,
                                 planes,
                                 round_digits: int | None = None) -> DataFrame:
    """Adds ``bucket``: bit b = sign(v · plane_b).

    ``round_digits`` rounds each dot product before taking its sign —
    set it when bucket assignments must be bit-identical across engines
    (e.g. the DuckDB oracle of dedup.dedup_embeddings): float summation
    order can differ between JVM fold and another engine's kernel, and a
    dot that lands within an ulp of zero would otherwise flip a bit.

    Small plane matrices (dim × n_planes ≤ 4096 elements) inline as
    literal arrays — dot products via zip_with/aggregate stay JVM-side.
    Larger matrices (real embedding dims, e.g. 1024 × 16) would build a
    Catalyst tree of dim × planes literal nodes, so they route through a
    vectorized pandas UDF instead: one matmul per Arrow batch
    (sign(V @ P.T) packed to an int bucket), the matrix shipped once in
    the task closure, never in the plan."""
    import numpy as np
    if len(planes) > 63:
        raise ValueError("more than 63 planes overflows the int64 bucket id")
    n_elems = len(planes) * (len(planes[0]) if planes else 0)
    if n_elems <= _LITERAL_BUDGET:
        sig = None
        for i, plane in enumerate(planes):
            plane_col = F.array(*[F.lit(float(x)) for x in plane])
            d = _dot(F.col(vec_col), plane_col)
            if round_digits is not None:
                d = F.round(d, round_digits)
            bit = F.when(d >= 0,
                         F.lit(1 << i).cast("long")).otherwise(
                             F.lit(0).cast("long"))
            sig = bit if sig is None else (sig + bit)
        return df.withColumn("bucket", sig)

    from pyspark.sql.types import LongType
    p_t = np.asarray(planes, dtype=np.float64).T          # dim × planes
    weights = (1 << np.arange(len(planes), dtype=np.int64))
    rd = round_digits

    @F.pandas_udf(LongType())
    def _bucket(vecs):
        import pandas as pd
        mat = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs]) \
            if len(vecs) else np.zeros((0, p_t.shape[0]))
        scores = mat @ p_t
        if rd is not None:
            scores = np.round(scores, rd)
        bits = scores >= 0.0
        return pd.Series((bits @ weights).astype(np.int64))
    return df.withColumn("bucket", _bucket(F.col(vec_col)))


def ivf_assign(emb: DataFrame, centroids, vec_col: str = "v") -> DataFrame:
    """Adds ``cell``: index of the centroid with the LARGEST INNER
    PRODUCT (the standard IVF-IP coarse quantizer).  Note this is NOT
    cosine when centroid norms differ — Lloyd means have unequal norms,
    so a large-norm centroid can win at a wider angle; for true
    cosine-cell geometry, L2-normalize the centroids (and vectors)
    before calling.  ivf_topk's downstream rerank scores candidates by
    exact cosine either way, which bounds the recall impact; the
    tested recall floor in test_dataops covers this quantizer as-is.
    Small centroid sets inline as literals (argmax over per-centroid
    dot products, JVM-side); large dim × cells matrices route through a
    vectorized pandas UDF (argmax of one matmul per Arrow batch) so the
    Catalyst tree stays constant-size."""
    import numpy as np
    if not centroids:
        raise ValueError(
            "ivf_assign needs at least one centroid (empty corpus? "
            "bruteforce_topk handles the degenerate case)")
    n_elems = len(centroids) * (len(centroids[0]) if centroids else 0)
    if n_elems <= _LITERAL_BUDGET:
        best_ix = None
        best_score = None
        for i, c in enumerate(centroids):
            c_col = F.array(*[F.lit(float(x)) for x in c])
            score = _dot(F.col(vec_col), c_col) / _norm(F.col(vec_col))
            if best_ix is None:
                best_ix, best_score = F.lit(i), score
            else:
                cond = score > best_score
                best_ix = F.when(cond, F.lit(i)).otherwise(best_ix)
                best_score = F.when(cond, score).otherwise(best_score)
        return df_with(emb, "cell", best_ix)

    from pyspark.sql.types import IntegerType
    c_t = np.asarray(centroids, dtype=np.float64).T       # dim × cells

    @F.pandas_udf(IntegerType())
    def _cell(vecs):
        import pandas as pd
        mat = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs]) \
            if len(vecs) else np.zeros((0, c_t.shape[0]))
        # argmax of dot/|v| ≡ argmax of dot (|v| constant per row)
        return pd.Series(np.argmax(mat @ c_t, axis=1).astype(np.int32))
    return df_with(emb, "cell", _cell(F.col(vec_col)))


def df_with(df, name, col):
    return df.withColumn(name, col)


def kmeans_centroids(emb: DataFrame, n_cells: int = 16, iters: int = 2,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> list:
    """Deterministic Lloyd refinement for the IVF quantizer: seed with the
    first ``n_cells`` vectors by id (stable), then ``iters`` rounds of
    assign (ivf_assign — JVM or matmul-UDF path) + element-wise mean per
    cell (posexplode → groupBy(cell, pos) avg — one shuffle of
    rows × dim scalars with map-side partial agg).  Only the centroid
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
    dot product, ordered score-desc with cell-asc tie-break.

    ``round_digits`` rounds each centroid dot BEFORE ranking — set it
    when probe order must be bit-identical across engines (the DuckDB
    oracle recomputes the same dots; summation order differs between a
    numpy matmul / JVM fold and another engine's kernel, and two cells
    within an ulp of each other would otherwise swap probe ranks).

    Same _LITERAL_BUDGET discipline as ivf_assign: small centroid sets
    rank JVM-side (sort_array over (−score, cell) structs — one
    projection, no union, no window); large dim × cells matrices route
    through a vectorized pandas UDF (one matmul per Arrow batch, stable
    argsort), so the Catalyst tree stays constant-size at production
    n_cells × dim instead of inlining dim literals per cell."""
    import numpy as np
    n_elems = len(centroids) * (len(centroids[0]) if centroids else 0)
    if n_elems <= _LITERAL_BUDGET:
        entries = []
        for i, c in enumerate(centroids):
            c_col = F.array(*[F.lit(float(x)) for x in c])
            d = _dot(F.col(vec_col), c_col)
            if round_digits is not None:
                d = F.round(d, round_digits)
            entries.append(F.struct(
                (-d).alias("negs"), F.lit(i).alias("cell")))
        ranked = F.slice(F.sort_array(F.array(*entries)), 1, nprobe)
        return q.withColumn(
            "cells", F.transform(ranked, lambda s: s["cell"]))

    from pyspark.sql.types import ArrayType, IntegerType
    c_t = np.asarray(centroids, dtype=np.float64).T        # dim × cells
    top = int(nprobe)
    rd = round_digits

    @F.pandas_udf(ArrayType(IntegerType()))
    def _probe(vecs):
        import pandas as pd
        if not len(vecs):
            return pd.Series([], dtype=object)
        mat = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
        scores = mat @ c_t                                  # rows × cells
        if rd is not None:
            scores = np.round(scores, rd)
        # stable argsort on −score keeps ties in cell-ascending order,
        # matching the JVM struct-sort tie-break exactly
        order = np.argsort(-scores, axis=1, kind="stable")[:, :top]
        return pd.Series([row.astype(np.int32).tolist() for row in order])
    return q.withColumn("cells", _probe(F.col(vec_col)))


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
    if refine_iters > 0:
        cents = kmeans_centroids(emb, n_cells, refine_iters, id_col,
                                 vec_col)
    else:
        cents = [list(r[1]) for r in
                 emb.select(id_col, vec_col).orderBy(id_col)
                 .limit(n_cells).collect()]
    base = ivf_assign(
        emb.select(F.col(id_col).alias("vec_id"),
                   F.col(vec_col).alias("v"),
                   _norm(F.col(vec_col)).alias("nv")), cents, "v")
    # query probes: rank cells per query, keep nprobe
    q = queries.select(F.col(q_id_col).alias("q_id"),
                       F.col(q_vec_col).alias("q"),
                       _norm(F.col(q_vec_col)).alias("nq"))
    probes = (probe_cells(q, cents, nprobe, "q")
              .select("q_id", F.explode("cells").alias("cell")))
    scored = (base.join(F.broadcast(probes), "cell")
              .join(F.broadcast(q), "q_id")
              .withColumn("cosine",
                          _dot(F.col("v"), F.col("q"))
                          / (F.col("nv") * F.col("nq"))))
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("q_id", "vec_id", F.round("cosine", 6).alias("cosine"),
                    "rank"))


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
        emb.select(F.col(id_col).alias("vec_id"),
                   F.col(vec_col).alias("v"),
                   _norm(F.col(vec_col)).alias("nv")), "v", planes,
        round_digits=sig_round_digits)
    qs = random_hyperplane_signatures(
        queries.select(F.col(q_id_col).alias("q_id"),
                       F.col(q_vec_col).alias("q"),
                       _norm(F.col(q_vec_col)).alias("nq")), "q", planes,
        round_digits=sig_round_digits)
    cos = _dot(F.col("v"), F.col("q")) / (F.col("nv") * F.col("nq"))
    if round_digits is not None:
        cos = F.round(cos, round_digits)
    scored = base.join(F.broadcast(qs), "bucket").withColumn("cosine", cos)
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("q_id", "vec_id", F.round("cosine", 6).alias("cosine"),
                    "rank"))


# ---------------------------------------------------------------------------
# Persistent IVF index: vector-search twin of dedup.write_dedup_index.

_ANN_META = "_versa_ann_index.json"


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
        if refine_iters > 0:
            cents = kmeans_centroids(emb, n_cells, refine_iters,
                                     id_col, vec_col)
        else:
            cents = [list(r[1]) for r in
                     emb.select(id_col, vec_col).orderBy(id_col)
                     .limit(n_cells).collect()]
    assigned = ivf_assign(
        emb.select(F.col(id_col).alias("vec_id"),
                   F.col(vec_col).alias("v"),
                   _norm(F.col(vec_col)).alias("nv")), cents, "v")
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
                    q_vec_col: str = "q_vec", route: str = "auto",
                    full_scan_fraction: float = 0.8) -> DataFrame:
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

    ``route``: partition pruning pays off only when the batch's probes
    cover a small fraction of the cells — ABBA-ordered laps at 1M×d64
    showed a FULL-coverage batch reading the one-file-per-cell layout
    ~2× slower through the pruned multi-file path than one plain scan,
    while small serving batches win ≥4× from pruning.  ``'auto'``
    (default) picks per batch from the stored quantizer stats: the
    pruned scan below ``full_scan_fraction`` of cells probed, a single
    full-table scan at/above it (the probes join still restricts rows,
    so results are identical — route only changes the scan strategy).
    ``'pruned'`` / ``'full'`` force either path.

    The returned frame is eagerly checkpointed (<= |queries| x k rows)
    and the internal probes checkpoint is released before returning, so
    a long-lived serving session accumulates only the small results it
    still holds — release those with cacheutil.release_checkpoint when
    done."""
    spark = queries.sparkSession
    meta = read_ann_index_meta(spark, path)
    if meta is None:
        raise ValueError(f"no ANN index sidecar at {path}")
    cents = meta["centroids"]
    # validate BEFORE the eager probes checkpoint: raising after it
    # would skip the finally-release and leak pinned blocks on every
    # bad call in a long-lived serving session
    if route not in ("auto", "pruned", "full"):
        raise ValueError(f"route must be auto/pruned/full, got {route!r}")
    q = queries.select(F.col(q_id_col).alias("q_id"),
                       F.col(q_vec_col).alias("q"),
                       _norm(F.col(q_vec_col)).alias("nq"))
    # the probes feed both the cells-collect below and the result's
    # probes join, so they are checkpointed (the probe DAG runs once).
    # That checkpoint pins blocks for the JVM's lifetime: eagerly
    # checkpoint the (small, <= |queries| x k rows) RESULT and release
    # the probes in finally — the decontaminate_fuzzy discipline — so
    # repeated queries in a long-lived serving session don't accumulate
    # pinned probe tables
    probes = (probe_cells(q, cents, nprobe, "q")
              .select("q_id", F.explode("cells").alias("cell"))
              .localCheckpoint(eager=True))
    try:
        cells = sorted({r.cell for r in probes.select("cell")
                        .distinct().collect()})
        pruned = (route == "pruned"
                  or (route == "auto"
                      and len(cells) < full_scan_fraction
                      * meta["n_cells"]))
        base = spark.read.parquet(f"{path}/vectors")
        if pruned:
            base = base.filter(F.col("cell").isin(cells))
        scored = (base.join(F.broadcast(probes), "cell")
                  .join(F.broadcast(q), "q_id")
                  .withColumn("cosine",
                              _dot(F.col("v"), F.col("q"))
                              / (F.col("nv") * F.col("nq"))))
        w = Window.partitionBy("q_id").orderBy(
            F.col("cosine").desc(), F.col("vec_id"))
        out = (scored.withColumn("rank", F.row_number().over(w))
               .filter(F.col("rank") <= k)
               .select("q_id", "vec_id",
                       F.round("cosine", 6).alias("cosine"), "rank"))
        return out.localCheckpoint(eager=True)
    finally:
        # only safe because the result checkpoint above truncated lineage
        from versa_spark.cacheutil import release_checkpoint
        release_checkpoint(probes)
