"""Deduplication at corpus scale: exact, n-gram Jaccard, MinHash+LSH,
SimHash, embedding-cosine.

Plan shapes (the part that must survive 100×):
* exact: md5-normalized hash groupBy — one shuffle, map-side partial agg;
* n-gram Jaccard: shingle → explode → self-join on shingle → pair groupBy.
  The shingle join is the classic quadratic trap; the LSH variants below
  exist precisely to avoid it at scale — keep exact Jaccard for
  verification of candidates, not discovery;
* MinHash+LSH: signatures via xxhash64(shingle, seed) min-aggregated
  JVM-side (no UDF), banded; candidates only join within buckets;
* SimHash: token hashes → bit-vote aggregate → 64-bit signature; candidate
  pairs by band equality;
* embedding cosine: exact pairwise above threshold for verification;
  scale path is LSH over random hyperplanes (simsearch module).

Every banded similarity join is one operator, candidate generation then
verification, and each step has one kernel here:
* :func:`_pair_expand` — the in-row (a < b) pair expansion of a sorted
  array (also kg/analytics' co-occurrence pairs);
* :func:`_bucket_pairs` — within-table discovery: bucket membership
  groupBy → distinct member pairs (MinHash, SimHash, embedding LSH);
* :func:`_banded_match` — cross-table discovery and verify: the small
  side's banded rows broadcast into the big side's scan, candidates
  verified by :func:`_verify_candidates` (fuzzy decontamination, the
  stored index);
* :func:`family_hash_sql` — the one place a ``hash_family`` name is
  checked and the md5 48-bit integer is written.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from versa_spark.cacheutil import release_checkpoint
from versa_spark.sqlquote import quote_ident, quote_literal

# Broadcast caps (rows): each operator counts its small side and hints
# F.broadcast at or below its cap; above it AQE plans the join.
_MERGE_BROADCAST_ROWS = 2_000_000        # merge_duplicates' id mapping
_DECONTAM_BROADCAST_ROWS = 10_000_000    # 8-byte benchmark gram hashes
_BANDED_BROADCAST_ROWS = 50_000_000      # (doc_id, band, bucket) rows


def normalized_text(text_col="text"):
    return F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")


def exact_duplicates(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Groups of ids sharing identical normalized text (md5 groupBy).
    Returns (fp_md5, n_docs, doc_ids sorted) for groups with n_docs > 1."""
    fp = df.select(F.col(id_col).alias("doc_id"),
                   F.md5(normalized_text(text_col)).alias("fp_md5"))
    return (fp.groupBy("fp_md5")
            .agg(F.count("*").alias("n_docs"),
                 F.sort_array(F.collect_list("doc_id")).alias("doc_ids"))
            .filter(F.col("n_docs") > 1))


def _shingle_sql(text_col: str, k: int) -> str:
    """SQL text of the shingle expression below — built as ONE string so
    F.expr crosses py4j once instead of ~30 builder round trips (the
    round-7 profile showed expression *construction* dominating the
    small-corpus minhash laps; see minhash_signatures).

    The row's word array is bound ONCE, as the lambda variable ``_w``
    of a one-element ``transform(array(<words>), …)``: a lambda
    re-evaluates, per element, every non-lambda expression it
    references (higher-order functions run interpreted and Catalyst
    does no common-subexpression elimination inside a lambda), so
    naming the regex/split inside the shingle lambda re-ran it once per
    shingle — quadratic in document length.  ``flatten`` unwraps the
    one-element result with the same type and nullability as the bare
    CASE (``[0]`` would make it nullable and change the stored
    ``shingles/`` schema)."""
    ws = quote_literal(r"\s+")
    w = (f"split(regexp_replace(lower(trim({quote_ident(text_col)})), "
         f"{ws}, ' '), ' ')")
    return (
        f"flatten(transform(array({w}), _w -> array_distinct("
        f"CASE WHEN size(_w) >= {k} THEN "
        f"transform(sequence(0, greatest(size(_w) - {k}, 0)), "
        f"_si -> concat_ws(' ', slice(_w, _si + 1, {k}))) "
        f"ELSE array(concat_ws(' ', _w)) END)))")


def shingle_array(text_col: str = "text", k: int = 3):
    """Column expression: text → array of DISTINCT word k-shingles —
    the in-row form every shingle consumer shares.  Keeping it an array
    (instead of exploding) lets signature and verify paths stay
    exchange-free (guide §2.4).

    Round 7 (2nd pass): the expression is assembled as one SQL string
    (F.expr) rather than nested builder calls — semantically identical
    tree (parity-tested in tests/test_r07_optimizations.py), but ONE
    py4j round trip instead of ~30; with 64-hash signatures on top this
    was the bench minhash query's dominant cost (guide §4: the
    JVM↔Python boundary includes plan-construction chatter, not just
    row traffic).

    Rule for every in-row kernel: a lambda re-evaluates, per element,
    every non-lambda expression it references, so bind a per-row array
    (words, mentions) once — as a column of a projection below the
    lambda, or as a lambda variable as :func:`_shingle_sql` does — and
    never name the regex/split that builds it inside the lambda.  The
    word array here is split once per row, so shingling is linear in
    document length (tests/test_linear_kernels.py checks the plans)."""
    return F.expr(_shingle_sql(text_col, k))


def shingles(df: DataFrame, id_col: str = "doc_id",
             text_col: str = "text", k: int = 3) -> DataFrame:
    """Distinct word k-shingles per doc: (doc_id, shingle)."""
    return (df.select(F.col(id_col).alias("doc_id"),
                      F.explode(shingle_array(text_col, k))
                      .alias("shingle")))


def _jaccard_finish(inter: DataFrame, sizes: DataFrame,
                    threshold: float) -> DataFrame:
    sa = sizes.select(F.col("doc_id").alias("a"),
                      F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("b"),
                      F.col("n_sh").alias("n_b"))
    return (inter.join(sa, "a").join(sb, "b")
            .withColumn("jaccard",
                        F.col("n_inter")
                        / (F.col("n_a") + F.col("n_b") - F.col("n_inter")))
            .filter(F.col("jaccard") >= threshold)
            .select("a", "b", F.round("jaccard", 6).alias("jaccard")))


def _candidate_shingles(df: DataFrame, ids: DataFrame, id_col: str,
                        text_col: str, k: int) -> DataFrame:
    """(doc_id, sh) distinct-shingle arrays of the docs whose id is in
    ``ids`` (a ``doc_id`` frame).  The DOC rows are semi-joined before
    shingling, so verify costs O(candidate docs), not O(corpus)."""
    return (df.select(F.col(id_col).alias("doc_id"),
                      F.col(text_col).alias("_text"))
            .join(ids, "doc_id", "left_semi")
            .select("doc_id", shingle_array("_text", k).alias("sh")))


def _verify_candidates(cands: DataFrame, a_sh: DataFrame, b_sh: DataFrame,
                       threshold: float) -> DataFrame:
    """Exact Jaccard of candidate pairs: the one place candidate-pair
    Jaccard is computed from shingle arrays.  ``cands`` holds distinct
    (a, b) pairs; ``a_sh`` / ``b_sh`` are the (doc_id, sh) shingle-array
    frames of the a and b sides.  Returns (a, b, jaccard) with
    jaccard ≥ threshold, rounded to 6 places.

    Shingles stay IN-ROW arrays and the per-pair intersection is one
    in-row array intersection, so verify is two plain joins of the pairs
    against the per-doc arrays — not explode → per-pair shingle
    equi-join → count → two size joins (four exchanges + a Generate).
    Pairs sharing no shingle are dropped (n_inter > 0), as that
    intersection join dropped them."""
    a = a_sh.selectExpr("doc_id AS a", "sh AS _sh_a")
    b = b_sh.selectExpr("doc_id AS b", "sh AS _sh_b")
    return (cands.join(a, "a").join(b, "b")
            .selectExpr("a", "b", "size(_sh_a) AS n_a",
                        "size(_sh_b) AS n_b",
                        "size(array_intersect(_sh_a, _sh_b)) AS n_inter")
            .filter("n_inter > 0")
            .selectExpr("a", "b",
                        "n_inter / (n_a + n_b - n_inter) AS jaccard")
            .filter(F.col("jaccard") >= float(threshold))
            .selectExpr("a", "b", "round(jaccard, 6) AS jaccard"))


def _pair_expand(ids_col: str):
    """The in-row pair expansion over a sorted array column: struct
    pairs (a, b) with a < b, every element against every later element
    — no self-join, no shuffle.  The outer transform lambda is BINARY on
    purpose — pyspark dispatches (element, index)."""
    return F.flatten(F.transform(
        F.col(ids_col),
        lambda x, i: F.transform(
            F.slice(F.col(ids_col), i + 2,
                    F.greatest(F.size(F.col(ids_col)) - i - 1, F.lit(0))),
            lambda y: F.struct(x.alias("a"), y.alias("b")))))


def _bucket_pairs(banded: DataFrame, keys: list[str], member) -> DataFrame:
    """Within-table LSH discovery: distinct (a, b) pairs of ``member``
    values (a column name or expression) that share a ``keys`` bucket,
    a < b.

    One groupBy over the bucket keys + in-row pair expansion of the
    sorted membership list, not a banded self-join: the join form
    referenced the banded table twice, so the whole signature DAG ran
    once per side and both sides were exchanged; here the signatures
    compute once and the bucket groupBy is the only discovery exchange.
    Membership lists are near-dup-group-sized by LSH construction, the
    same K members the self-join would have squared into K² rows."""
    return (banded.groupBy(*keys)
            .agg(F.array_sort(F.collect_list(member)).alias("_ids"))
            .filter(F.size("_ids") >= 2)
            .select(F.explode(_pair_expand("_ids")).alias("p"))
            .select("p.a", "p.b").distinct())


def ngram_jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 3,
                        threshold: float = 0.8,
                        candidates: DataFrame | None = None) -> DataFrame:
    """Exact Jaccard over word k-shingles.  (a, b, jaccard) with a < b and
    jaccard ≥ threshold.

    With ``candidates`` (an (a, b) pair DataFrame, a < b) the computation
    is *scoped*: only docs appearing in a candidate pair get shingled, and
    intersections are counted per candidate pair (_verify_candidates) —
    cost is O(candidate pairs × shingles/doc), never all-pairs.  Without
    it, all co-shingling pairs are scored — quadratic in shingle-sharing
    docs; the verification kernel, not the discovery path (use
    minhash_lsh_candidates for discovery at scale)."""
    if candidates is not None:
        # candidate pairs must be distinct or a pair would be scored (and
        # emitted) twice; the distinct is O(candidates) — trivial next to
        # the joins it scopes
        cands = candidates.select("a", "b").distinct()
        ids = cands.selectExpr("explode(array(a, b)) AS doc_id").distinct()
        sh = _candidate_shingles(df, ids, id_col, text_col, k)
        return _verify_candidates(cands, sh, sh, threshold)
    sh = shingles(df, id_col, text_col, k)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("a"), "shingle")
    b = sh.select(F.col("doc_id").alias("b"), "shingle")
    inter = (a.join(b, "shingle")
             .filter(F.col("a") < F.col("b"))
             .groupBy("a", "b").agg(F.count("*").alias("n_inter")))
    return _jaccard_finish(inter, sizes, threshold)


# 48-bit mask for the md5 hash family: values fit a long with headroom
# for a + i*b (i < num_hashes), so the arithmetic is overflow-free and
# bit-identical across engines.
_MD5_MASK = (1 << 48) - 1


def family_hash_sql(hash_family: str, expr: str) -> str:
    """SQL text of the 64-bit hash of SQL expression ``expr``:
    ``xxhash64(expr)`` for the fast JVM family, the 48-bit integer of
    md5(expr)'s first 12 hex digits for the SQL-reproducible family
    (DuckDB computes the same value, so md5-family oracles check
    values).  The one place a family name is checked: every operator
    taking ``hash_family`` calls this while it builds its plan, so an
    unknown name raises before any Spark job."""
    if hash_family == "xxhash64":
        return f"xxhash64({expr})"
    if hash_family == "md5":
        return f"cast(conv(substring(md5({expr}), 1, 12), 16, 10) as bigint)"
    raise ValueError(f"unknown hash_family {hash_family!r} "
                     "(use 'xxhash64', 'md5')")


def minhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", k: int = 3,
                       num_hashes: int = 64,
                       hash_family: str = "xxhash64") -> DataFrame:
    """(doc_id, sig array<long>): sig[i] = min over shingles of
    hash_i(shingle).  Pure JVM aggregation — num_hashes min() aggregates
    after one explode; no Python.

    hash families:
    * 'xxhash64' (default): hash_i = xxhash64(shingle, seed=i) — the fast
      JVM path;
    * 'md5': Carter-Wegman universal hashing, hash_i = (a + i·b) mod 2^48
      with a, b = 48-bit ints from md5(shingle) / md5('b:'+shingle) —
      only TWO digest calls per shingle, and every step is reproducible
      in standard SQL (DuckDB computes the identical signature, so the
      driver oracle is a full value check, not rows-only).

    Round-7 note (measured, kept as-is): an in-row rewrite (array_min
    over transforms of the per-doc shingle array — zero Exchange, zero
    Generate) was built and A/B'd at 100k docs × ~60 words on local[32]:
    4.3 s → 5.2 s (md5), 3.6 s → 4.8 s (xxhash64).  Higher-order
    functions evaluate interpreted per element while this explode +
    groupBy shape runs 64 codegen'd min-aggregates, and the exchange it
    "saves" is already map-side-combined to ONE ~0.5 KB row per doc.
    The exchange-free "ideal" loses on CPU; the aggregate form stays.
    That A/B predates the linear shingle kernel (:func:`_shingle_sql`
    binds each row's word array once): both sides then re-split the
    text once per shingle, so its figures are not a measurement of the
    in-row form over today's kernel.

    Round 7 (2nd pass): the num_hashes min-aggregates are assembled as
    ONE SQL string (F.expr over array(min(…), …)) instead of num_hashes
    builder listcomps — the cProfile of the bench minhash lap showed
    ~0.7 s/lap of py4j socket round trips (10k+ messages) spent just
    CONSTRUCTING the 64-aggregate plan, more than its execution.  Same
    Catalyst expressions (the SQL parser builds the identical Add/
    Multiply/BitwiseAnd/Min trees; parity-tested + oracle-gated), one
    round trip."""
    sh = shingles(df, id_col, text_col, k)
    if hash_family == "xxhash64":
        mins = ",".join(f"min(xxhash64(shingle, {i}))"
                        for i in range(num_hashes))
    else:
        ha = family_hash_sql(hash_family, "shingle")
        hb = family_hash_sql(hash_family, "concat('b:', shingle)")
        sh = sh.selectExpr("doc_id", f"{ha} AS _ha", f"{hb} AS _hb")
        mins = ",".join(f"min((_ha + {i} * _hb) & {_MD5_MASK})"
                        for i in range(num_hashes))
    return (sh.groupBy("doc_id")
            .agg(F.expr(f"array({mins})").alias("sig")))


def _banded_signatures(df: DataFrame, id_col: str, text_col: str, k: int,
                       num_hashes: int, bands: int,
                       hash_family: str) -> DataFrame:
    """(doc_id, band, bucket) banded-LSH rows — the shared discovery key
    of minhash_lsh_candidates (within-corpus) and decontaminate_fuzzy
    (cross-corpus).  bucket = hash of the band's signature slice; two
    docs collide iff a full band of minima agrees, so the pair join is
    bucket-scoped, never all-pairs."""
    if bands <= 0 or num_hashes % bands != 0:
        # bands > num_hashes would give 0-row bands whose bucket is the
        # same constant for every doc — the all-pairs quadratic join LSH
        # exists to avoid; a non-divisor would silently drop trailing
        # signature values and change recall
        raise ValueError(
            f"bands ({bands}) must evenly divide num_hashes "
            f"({num_hashes})")
    rows_per = num_hashes // bands
    sig = minhash_signatures(df, id_col, text_col, k, num_hashes,
                             hash_family)
    # one SQL string for the whole band/bucket explode (same py4j-chatter
    # rationale as minhash_signatures — the 16-band struct array cost
    # ~0.4 s/lap to CONSTRUCT via builder calls)
    fn = "xxhash64" if hash_family == "xxhash64" else "md5"
    structs = ",".join(
        f"struct({b} as band, {fn}(concat_ws(',', " + ",".join(
            f"cast(sig[{b * rows_per + r}] as string)"
            for r in range(rows_per)) + ")) as bucket)"
        for b in range(bands))
    return (sig.select("doc_id",
                       F.expr(f"explode(array({structs}))").alias("bb"))
            .select("doc_id", "bb.band", "bb.bucket"))


def minhash_lsh_candidates(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", k: int = 3,
                           num_hashes: int = 64, bands: int = 16,
                           verify_threshold: float | None = 0.8,
                           hash_family: str = "xxhash64") -> DataFrame:
    """Banded-LSH candidate pairs, optionally verified with exact Jaccard.

    bands × rows-per-band = num_hashes; docs agreeing on any full band
    bucket together; the pair join happens only within buckets (bucket id
    = hash of the band slice) — never all-pairs.  Verification is scoped
    to the candidate pairs by the kernel behind
    ``ngram_jaccard_pairs(candidates=…)``: the shingle table is
    semi-joined down to candidate docs and intersections are counted per
    candidate pair, so the verify stage costs O(candidates), never the
    full-corpus all-pairs join it exists to avoid.  The verified pairs
    come back eagerly checkpointed.

    Discovery is :func:`_bucket_pairs` over (band, bucket): one
    groupBy, no banded self-join."""
    banded = _banded_signatures(df, id_col, text_col, k, num_hashes,
                                bands, hash_family)
    cands = _bucket_pairs(banded, ["band", "bucket"], "doc_id")
    if verify_threshold is None:
        return cands
    # Verify (round-7 2nd-pass shape, ABBA'd at sf0.1: 2.10/1.40 s →
    # 1.32/1.24 s, identical pairs): checkpoint the candidate set AND the
    # semi-joined per-doc shingle table, then run the two pair joins
    # against the materialized rows.  Unmaterialized, the candidate set
    # feeds verify twice (pair join + doc-id semi-join), so the whole
    # signature→banding DAG executed twice per action (round-4 A/B:
    # 11.7/12.5 s vs 6.7/7.0 s), the corpus-scan→shingle subtree ran once
    # per join side and 8 broadcast jobs chained.  Both checkpoints are
    # candidate-bounded (near-dup pairs / their docs — the whole point of
    # LSH), so this stays O(candidates) at any corpus size, and every
    # checkpoint except the returned result is released before returning
    # (cacheutil).
    cands = cands.localCheckpoint(eager=True)
    try:
        ids = cands.selectExpr("explode(array(a, b)) AS doc_id").distinct()
        sh = _candidate_shingles(df, ids, id_col, text_col,
                                 k).localCheckpoint(eager=True)
        try:
            verified = _verify_candidates(
                cands, sh, sh, verify_threshold).localCheckpoint(eager=True)
        finally:
            release_checkpoint(sh)
    finally:
        release_checkpoint(cands)
    return verified


def simhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       hash_family: str = "xxhash64") -> DataFrame:
    """64-bit SimHash per doc: per-token hash → per-bit weighted vote →
    sign.  All JVM: explode tokens, then 64 sum() aggregates over bit
    tests.

    hash_family='xxhash64' (default) packs the signature into a long
    ``simhash``; 'md5' derives the 64 bits from the first 16 hex chars of
    md5(token) and emits ``simhash`` as a 64-char '0'/'1' string — every
    step is reproducible in DuckDB SQL, so the driver oracle is a full
    value check.  Bit i lives at hex digit i//4, position i%4 within the
    digit."""
    # Single-SQL-string construction (one F.expr round trip instead of
    # 64 vote + 64 reconstruction builder columns — the same py4j
    # construction-chatter fix as minhash_signatures; parity-tested).
    h = family_hash_sql(hash_family, "w")
    tok = df.select(F.col(id_col).alias("doc_id"),
                    F.explode(F.split(normalized_text(text_col), " "))
                    .alias("w"))
    if hash_family == "xxhash64":
        tok = tok.selectExpr("doc_id", f"{h} AS h")

        def vote(i):
            return (f"sum(CASE WHEN (shiftright(h, {i}) & 1) = 1"
                    f" THEN 1 ELSE -1 END)")
        terms = [f"(CASE WHEN {vote(i)} > 0 THEN cast(1 as bigint)"
                 f" ELSE cast(0 as bigint) END * cast({1 << i} as bigint))"
                 for i in range(63)]
        terms.append(f"CASE WHEN {vote(63)} > 0"
                     f" THEN cast({-(1 << 63)} as bigint)"
                     f" ELSE cast(0 as bigint) END")
        return (tok.groupBy("doc_id")
                .agg(F.expr(" + ".join(terms)).alias("simhash")))
    tok = tok.selectExpr("doc_id", "substring(md5(w), 1, 16) AS h16")

    def vote_md5(i):
        digit = (f"cast(conv(substring(h16, {i // 4 + 1}, 1), 16, 10)"
                 f" as int)")
        return (f"sum(CASE WHEN (shiftright({digit}, {i % 4}) & 1) = 1"
                f" THEN 1 ELSE -1 END)")
    bits = ",".join(f"CASE WHEN {vote_md5(i)} > 0 THEN '1' ELSE '0' END"
                    for i in range(64))
    return (tok.groupBy("doc_id")
            .agg(F.expr(f"concat({bits})").alias("simhash")))


def simhash_near_dups(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text",
                      max_hamming: int = 3,
                      hash_family: str = "xxhash64") -> DataFrame:
    """Near-dup pairs by SimHash: candidates bucket on bit bands (any
    identical band → candidate), then exact Hamming filter.

    The band count ADAPTS to the radius: max_hamming + 1 bands
    partitioning the 64 signature bits guarantee, by pigeonhole, that a
    pair within the radius leaves at least one band untouched and so
    shares a bucket — a FIXED 4-band split would silently miss pairs
    beyond Hamming 3 (4 differing bits can land one per band).  Wider
    radii therefore mean narrower bands → more candidate pairs for the
    exact filter, the standard recall/cost trade."""
    n_bands = max(1, min(64, int(max_hamming) + 1))
    base, extra = divmod(64, n_bands)
    # band b covers [offsets[b], offsets[b+1]) — first `extra` bands one
    # bit wider so the widths partition all 64 bits exactly
    offsets = [0]
    for b in range(n_bands):
        offsets.append(offsets[-1] + base + (1 if b < extra else 0))
    sig = simhash_signatures(df, id_col, text_col, hash_family)
    if hash_family == "xxhash64":
        # a full-64-bit band's mask is all ones = -1 as a signed long
        # ((1<<64)-1 would overflow the Java long literal)
        def _mask(width):
            return -1 if width == 64 else (1 << width) - 1
        band_cols = [
            F.struct(F.lit(b).alias("band"),
                     F.shiftrightunsigned(F.col("simhash"), offsets[b])
                     .bitwiseAND(
                         F.lit(_mask(offsets[b + 1] - offsets[b])))
                     .cast("string").alias("bucket"))
            for b in range(n_bands)]
    else:
        band_cols = [
            F.struct(F.lit(b).alias("band"),
                     F.substring("simhash", offsets[b] + 1,
                                 offsets[b + 1] - offsets[b])
                     .alias("bucket"))
            for b in range(n_bands)]
    banded = sig.select("doc_id", "simhash",
                        F.explode(F.array(*band_cols)).alias("bb")) \
                .select("doc_id", "simhash", "bb.band", "bb.bucket")
    # members carry their signature, so the Hamming filter reads both
    # sides without a join back to the signature table; sorting the
    # (doc_id, simhash) structs orders them by doc_id, so a < b
    pairs = (_bucket_pairs(banded, ["band", "bucket"],
                           F.struct("doc_id", "simhash"))
             .selectExpr("a.doc_id AS a", "b.doc_id AS b",
                         "a.simhash AS sig_a", "b.simhash AS sig_b"))
    if hash_family == "xxhash64":
        hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    else:
        hamming = F.aggregate(
            F.sequence(F.lit(1), F.lit(64)), F.lit(0),
            lambda acc, i: acc + F.when(
                F.col("sig_a").substr(i, F.lit(1))
                != F.col("sig_b").substr(i, F.lit(1)), 1).otherwise(0))
    return (pairs.withColumn("hamming", hamming.cast("int"))
            .filter(F.col("hamming") <= max_hamming)
            .select("a", "b", "hamming"))


def connected_components(pairs: DataFrame, a_col: str = "a",
                         b_col: str = "b",
                         max_iters: int = 25,
                         with_rounds: bool = False):
    """Duplicate-pair graph → (doc_id, component): alternating
    neighbor-min hooking + pointer-doubling shortcut (the Shiloach-Vishkin
    / large-star-small-star family, Kiveris et al. 2014) — converges in
    O(log n) rounds even on long chains, unlike plain neighbor-min
    propagation which needs O(diameter) rounds.

    Each round runs two joins over the label table:
      1. hook:     comp ← min(comp, min over neighbors' comp)
      2. shortcut: comp ← comp(comp)     (pointer doubling)
    The round's plan references the previous label table FOUR times
    (hook twice, shortcut twice), so without truncation the logical plan
    grows 4^rounds and OOMs the *driver* during analysis — the label
    table is therefore localCheckpoint-ed (eagerly, truncating lineage to
    a LogicalRDD) every round, GraphFrames' checkpoint-interval strategy
    at interval 1 (a production cluster build would use a reliable
    checkpoint dir, same call shape), and the previous round's table is
    released, so a run holds one label-table copy, not one per round.
    Raises RuntimeError if ``max_iters`` rounds don't converge — never
    exits silently with split components.

    This is the cluster step between near-dup *pairs* (minhash/simhash/
    cosine) and the resource-merge rewrite (ops.replace_values semantics,
    reference util.py:162-191): every member maps to the component's
    minimum id.  ``with_rounds=True`` returns (labels, rounds) so tests
    can assert logarithmic convergence."""
    edges = (pairs.select(F.col(a_col).alias("x"), F.col(b_col).alias("y"))
             .unionByName(pairs.select(F.col(b_col).alias("x"),
                                       F.col(a_col).alias("y")))
             .distinct()
             .persist())
    labels = (edges.select(F.col("x").alias("node"))
              .distinct()
              .withColumn("component", F.col("node")))
    rounds = 0
    converged = False
    for i in range(max_iters):
        rounds += 1
        lab = labels.select("node", "component")
        # 1. hook: candidate label = min(own, min over neighbors' labels)
        nbr = (edges.join(lab.withColumnRenamed("node", "y"), "y")
               .groupBy("x").agg(F.min("component").alias("nbr_min"))
               .withColumnRenamed("x", "node"))
        hooked = (lab.join(nbr, "node", "left")
                  .select("node",
                          F.col("component").alias("_old"),
                          F.least(F.col("component"),
                                  F.coalesce(F.col("nbr_min"),
                                             F.col("component")))
                          .alias("component")))
        # 2. shortcut (pointer doubling): comp ← comp(comp).  Every comp
        # value is itself a node id, so the self-join resolves one more
        # pointer level — path lengths halve each round.
        parent = hooked.select(F.col("node").alias("_p"),
                               F.col("component").alias("_pc"))
        doubled = (hooked.join(parent,
                               hooked["component"] == parent["_p"], "left")
                   .select("node",
                           F.coalesce("_pc", "component").alias("component"),
                           # convergence flag rides the label table so the
                           # per-round check below is a scan of the
                           # just-materialized blocks, not the extra
                           # old⋈new join per round it used to be (r07 —
                           # one fewer join job every round)
                           (F.coalesce("_pc", "component")
                            != F.col("_old")).alias("_chg")))
        new_labels = doubled.localCheckpoint(eager=True)
        changed = new_labels.filter(F.col("_chg")).limit(1).count()
        # the checkpoint truncated lineage, so the previous round's table
        # is dead: free it (a checkpoint's blocks outlive unpersist(), see
        # cacheutil).  Round 0's input is the caller's lineage, not ours.
        if i:
            release_checkpoint(labels)
        labels = new_labels
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds "
            f"(pointer-doubling needs ~log2(n); raise max_iters)")
    out = labels.select(F.col("node").alias("doc_id"), "component")
    return (out, rounds) if with_rounds else out


def merge_duplicates(links: DataFrame, pairs: DataFrame,
                     a_col: str = "a", b_col: str = "b") -> DataFrame:
    """Resource merge: rewrite origins/targets of *links* so every member
    of a duplicate cluster collapses to the cluster representative (the
    minimum id) — the bulk form of the reference's
    ``replace_entity_resource`` (util.py:175-191) fed by near-dup pairs.

    The mapping is O(#duplicates): on a 100-TB corpus at a 20-50% dup
    rate it is billions of rows, so broadcast is size-guarded: the
    mapping is counted (the label table is already materialized by
    connected_components, so the count is cheap) and broadcast at or
    below ``_MERGE_BROADCAST_ROWS``; above it the rewrite is two plain
    left joins, which AQE plans normally."""
    cc = connected_components(pairs, a_col, b_col)
    mapping = (cc.filter(F.col("doc_id") != F.col("component"))
               .select(F.col("doc_id").cast("string").alias("_from"),
                       F.col("component").cast("string").alias("_to")))
    if mapping.count() <= _MERGE_BROADCAST_ROWS:
        mapping = F.broadcast(mapping)
    m_o = mapping.select(F.col("_from").alias("_from_o"),
                         F.col("_to").alias("_to_o"))
    m_t = mapping.select(F.col("_from").alias("_from_t"),
                         F.col("_to").alias("_to_t"))
    out = (links
           .join(m_o, links["origin"] == m_o["_from_o"], "left")
           .join(m_t, links["target"] == m_t["_from_t"], "left"))
    keep = [c for c in links.columns if c not in ("origin", "target")]
    return out.select(
        F.coalesce("_to_o", "origin").alias("origin"),
        F.coalesce("_to_t", "target").alias("target"), *keep)


def embedding_near_dups(emb: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        threshold: float = 0.95) -> DataFrame:
    """Exact pairwise cosine ≥ threshold (verification kernel; discovery
    at scale = simsearch LSH buckets).  Dot products via zip_with +
    aggregate — JVM higher-order functions, no UDF (simsearch's
    ``_norm``/``_dot``, the kernels every cosine here uses)."""
    from versa_spark.simsearch import _dot, _norm
    a = emb.select(F.col(id_col).alias("a"), F.col(vec_col).alias("va"),
                   _norm(F.col(vec_col)).alias("na"))
    b = emb.select(F.col(id_col).alias("b"), F.col(vec_col).alias("vb"),
                   _norm(F.col(vec_col)).alias("nb"))
    dot = _dot(F.col("va"), F.col("vb"))
    return (a.crossJoin(b).filter(F.col("a") < F.col("b"))
            .withColumn("cosine", dot / (F.col("na") * F.col("nb")))
            .filter(F.col("cosine") >= threshold)
            .select("a", "b", F.round("cosine", 6).alias("cosine")))


def dedup_embeddings(emb: DataFrame, id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     threshold: float = 0.95,
                     n_planes: int = 8, n_tables: int = 2,
                     seed: int = 42, dim: int | None = None,
                     round_digits: int = 9) -> DataFrame:
    """One-call embedding near-dup removal — the vector-space analogue
    of dedup_corpus, and discovery never goes all-pairs:

        hyperplane-LSH buckets (n_tables independent tables — multi-
        probe via seeds, not wider beams) bound the candidate pairs
        → exact cosine verify within buckets (≥ threshold)
        → connected components (hooking + pointer doubling)
        → keep one representative per cluster (minimum id)

    Bucket sign bits use dots rounded to ``round_digits`` so the
    assignment is reproducible across engines (the driver oracle embeds
    the same deterministic plane literals in SQL); cosines round to 6
    before the threshold compare for the same reason.  Per-table bucket
    recall for a pair at angle θ is (1 − θ/π)^n_planes; tables union,
    so missed-pair probability decays exponentially in n_tables.
    ``embedding_near_dups`` (crossJoin) remains the verification-only
    kernel; this is the scale path.  Pass ``dim`` explicitly in jobs —
    the fallback inference reads one row on the driver (fine
    interactively, a planning-path round trip in a pipeline)."""
    from versa_spark.simsearch import (_dot, _norm, hyperplanes,
                                       random_hyperplane_signatures)
    if dim is None:
        row = emb.select(vec_col).first()
        if row is None:
            return emb          # empty input: nothing to dedup
        dim = len(row[0])
    # widen to float64 BEFORE any dot product: float32 products would
    # diverge from an engine computing in doubles by ~1e-6 — enough to
    # flip a near-zero sign bit or a threshold-grazing cosine even
    # after rounding (float→double widening is exact)
    vec64 = F.col(vec_col).cast("array<double>")
    base = emb.select(F.col(id_col).alias("vec_id"),
                      vec64.alias("v"),
                      _norm(vec64).alias("nv"))
    # Candidate discovery: ONE _bucket_pairs groupBy over the tagged
    # union of all tables' bucket assignments, instead of a per-table
    # self-join (which verified a pair once PER TABLE it co-bucketed
    # in).  Bucket memberships collect only vec_ids (vectors never ride
    # the candidate exchange — guide §2.3, shuffle keys not payloads),
    # and each distinct candidate pair pays exactly one cosine, attached
    # by two id-joins against the vector table.  Same surviving pair
    # set: cosine is a pure pair function, so verify-then-distinct ==
    # distinct-then-verify.
    banded_parts = []
    for t in range(n_tables):
        planes = hyperplanes(dim, n_planes, seed + t)
        banded_parts.append(
            random_hyperplane_signatures(base, "v", planes,
                                         round_digits=round_digits)
            .select("vec_id", F.concat(F.lit(f"{t}:"), "bucket")
                    .alias("bucket")))
    banded = banded_parts[0]
    for p in banded_parts[1:]:
        banded = banded.unionByName(p)
    cands = _bucket_pairs(banded, ["bucket"], "vec_id")
    va = base.select(F.col("vec_id").alias("a"), F.col("v").alias("va"),
                     F.col("nv").alias("na"))
    vb = base.select(F.col("vec_id").alias("b"), F.col("v").alias("vb"),
                     F.col("nv").alias("nb"))
    pairs = (cands.join(va, "a").join(vb, "b")
             .withColumn("cosine",
                         F.round(_dot(F.col("va"), F.col("vb"))
                                 / (F.col("na") * F.col("nb")), 6))
             .filter(F.col("cosine") >= threshold)
             .select("a", "b"))
    cc = connected_components(pairs)
    drop = (cc.filter(F.col("doc_id") != F.col("component"))
            .select(F.col("doc_id").alias(id_col)))
    return emb.join(drop, id_col, "left_anti")


def dedup_corpus(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text", k: int = 3,
                 threshold: float = 0.8, num_hashes: int = 64,
                 bands: int = 16,
                 hash_family: str = "xxhash64") -> DataFrame:
    """One-call near-dup removal — the composition a training-data
    pipeline actually runs:

        MinHash+LSH candidates  (bucketed discovery, never all-pairs)
        → candidate-scoped exact-Jaccard verify (≥ threshold)
        → connected components  (hooking + pointer doubling)
        → keep one representative per cluster (minimum id)

    Returns the input rows minus non-representative duplicates.  Exact
    duplicates are near-dups at any threshold, so they collapse too.
    Every stage is the scale path documented on its own function.

    Cache lifecycle: every intermediate persist is released before this
    returns (LSH candidates inside minhash_lsh_candidates, edge tables
    inside connected_components); the only retained blocks are the two
    tiny eager localCheckpoints the result still reads (verified pairs,
    component labels), and those are freed by the ContextCleaner once the
    returned DataFrame is dropped — repeated corpus-dedup calls in one
    session do not accumulate cached partitions
    (tests/test_dataops.py::test_dedup_corpus_releases_caches)."""
    pairs = minhash_lsh_candidates(df, id_col, text_col, k, num_hashes,
                                   bands, verify_threshold=threshold,
                                   hash_family=hash_family)
    # the returned label table is an eager checkpoint, so nothing reads
    # the verified pairs after this call: free them
    cc = connected_components(pairs.select("a", "b"))
    release_checkpoint(pairs)
    drop = (cc.filter(F.col("doc_id") != F.col("component"))
            .select(F.col("doc_id").alias(id_col)))
    return df.join(drop, id_col, "left_anti")


def _mode_tail(mode: str, flag_col: str,
               modes: tuple[str, ...] = ("remove", "flag", "pairs")):
    """Check ``mode`` against ``modes`` and return the output step
    ``tail(df, id_col, matched, match_col)`` that applies it: ``'pairs'``
    returns ``matched``; ``'remove'`` anti-joins the ids in its
    ``match_col`` out of ``df``; ``'flag'`` adds boolean ``flag_col``.
    Callers run it before their first Spark job, so a bad mode raises
    without running a job or pinning a block."""
    if mode not in modes:
        raise ValueError(f"unknown mode {mode!r} (use "
                         f"{', '.join(map(repr, modes))})")

    def tail(df: DataFrame, id_col: str, matched: DataFrame,
             match_col: str) -> DataFrame:
        if mode == "pairs":
            return matched
        hits = matched.select(F.col(match_col).alias(id_col)).distinct()
        if mode == "remove":
            return df.join(hits, id_col, "left_anti")
        marked = hits.withColumn(flag_col, F.lit(True))
        return (df.join(marked, id_col, "left")
                .withColumn(flag_col, F.coalesce(flag_col, F.lit(False))))
    return tail


def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                  id_col: str = "doc_id", text_col: str = "text",
                  n: int = 13, bench_text_col: str = "text",
                  mode: str = "remove") -> DataFrame:
    """Benchmark decontamination — the GPT-3/PaLM recipe (public
    appendices): a corpus document is contaminated if it shares ANY word
    ``n``-gram with the held-out benchmark set.

    Plan shape at 100 TB: both sides shingle (dedup.shingles, k = n);
    the corpus side joins on ``xxhash64(shingle)`` — 8-byte keys through
    the exchange, never the gram strings.  The benchmark gram-hash set
    (typically millions of rows, not billions) is **explicitly**
    broadcast, size-guarded like merge_duplicates: the distinct
    benchmark hashes are checkpointed and counted (one narrow scan of
    the benchmark table) and hinted ``F.broadcast`` at or below
    ``_DECONTAM_BROADCAST_ROWS`` (8 bytes/row → ≤ 80 MB in the hash-set
    build); above it the semi-join is an AQE-planned shuffle — relying
    on AQE's size *estimate* alone would risk a sort-merge join that
    shuffles the trillion-row corpus shingle table.  A left-semi join +
    distinct yields contaminated ids; ``remove`` anti-joins them out,
    ``flag`` adds a boolean ``contaminated``.

    The call runs the checkpoint and count jobs; the result is lazy and
    reads the checkpoint of the benchmark hash set, which the
    ContextCleaner frees once the returned DataFrame is dropped, as in
    :func:`dedup_corpus`.

    Docs shorter than ``n`` words shingle to their whole text (shingles'
    fallback), so a short benchmark item only matches a short corpus doc
    with identical normalized text — exact-match semantics below the
    n-gram floor, the conservative reading of the recipe."""
    tail = _mode_tail(mode, "contaminated", ("remove", "flag"))
    c_sh = shingles(corpus, id_col, text_col, n).select(
        "doc_id", F.xxhash64("shingle").alias("_h"))
    b_sh = (shingles(benchmark.select(F.lit(0).alias("_bid"),
                                      F.col(bench_text_col).alias("text")),
                     "_bid", "text", n)
            .select(F.xxhash64("shingle").alias("_h")).distinct())
    # materialize the (small) benchmark hash set ONCE: the size count
    # and the semi-join below both read the checkpoint instead of
    # re-shingling the benchmark.  The result is lazy, so an
    # in-function release_checkpoint would free blocks its plan still
    # reads.
    b_sh = b_sh.localCheckpoint(eager=True)
    if b_sh.count() <= _DECONTAM_BROADCAST_ROWS:
        b_sh = F.broadcast(b_sh)
    return tail(corpus, id_col, c_sh.join(b_sh, "_h", "left_semi"),
                "doc_id")


def _banded_match(big_banded: DataFrame, small_banded: DataFrame,
                  big_sh, small_sh, threshold: float) -> DataFrame:
    """Cross-table banded-LSH match: the one discovery + verify of
    :func:`decontaminate_fuzzy` and :func:`dedup_against_index`.
    ``*_banded`` are (doc_id, band, bucket) frames; ``*_sh`` map a
    ``doc_id`` frame to that side's (doc_id, sh) shingle arrays of those
    docs.  Returns the eagerly checkpointed verified pairs (a, b,
    jaccard), ``a`` from the small side, ``b`` from the big one.

    * The small banded table is materialized ONCE (it feeds the count
      AND the join), counted, and hinted ``F.broadcast`` at or below
      ``_BANDED_BROADCAST_ROWS``, so the big side's banded scan never
      shuffles for discovery; above the cap AQE plans a shuffle join on
      (band, bucket).
    * The distinct candidate pairs feed verify three times (two id
      semi-joins + the pair join), so they are persisted: discovery runs
      once.  Persisted, not checkpointed: kgbench's ``dedup.candidates``
      counts the rows its scans of this cached distinct return.  Each
      side's shingle arrays are built for candidate docs only, so
      verify costs O(candidate pairs × shingles/doc), never
      |big| × |small|.
    * The verified pairs are checkpointed eagerly, so both blocks are
      released before returning — repeated calls in a long-lived
      session do not accumulate them."""
    ckpt = small = small_banded.localCheckpoint(eager=True)
    if ckpt.count() <= _BANDED_BROADCAST_ROWS:
        small = F.broadcast(ckpt)
    cands = (big_banded.select(F.col("doc_id").alias("b"), "band", "bucket")
             .join(small.select(F.col("doc_id").alias("a"),
                                "band", "bucket"), ["band", "bucket"])
             .select("a", "b").distinct()
             .persist())
    try:
        a_sh = small_sh(cands.select(F.col("a").alias("doc_id")).distinct())
        b_sh = big_sh(cands.select(F.col("b").alias("doc_id")).distinct())
        return (_verify_candidates(cands, a_sh, b_sh, threshold)
                .localCheckpoint(eager=True))
    finally:
        cands.unpersist()
        release_checkpoint(ckpt)


def decontaminate_fuzzy(corpus: DataFrame, benchmark: DataFrame,
                        id_col: str = "doc_id", text_col: str = "text",
                        bench_id_col: str = "doc_id",
                        bench_text_col: str = "text",
                        k: int = 3, threshold: float = 0.8,
                        num_hashes: int = 64, bands: int = 16,
                        hash_family: str = "xxhash64",
                        mode: str = "remove") -> DataFrame:
    """Fuzzy (near-duplicate) benchmark decontamination — the cross-corpus
    complement of :func:`decontaminate`.  Exact n-gram decontamination
    misses paraphrased or lightly-edited benchmark leakage; this flags a
    corpus document when its word-``k``-shingle Jaccard similarity to ANY
    benchmark document is ≥ ``threshold`` — the same MinHash+banded-LSH →
    candidate-scoped exact-verify recipe as :func:`dedup_corpus`, but
    *between two tables* (train vs held-out eval), so no corpus↔corpus
    pair is ever generated.

    Plan shape at 100 TB (corpus ~10^9 docs, benchmark ~10^4–10^6): both
    sides band their MinHash signatures with the SHARED kernel
    (``_banded_signatures`` — identical bucket ids by construction) and
    :func:`_banded_match` broadcasts the benchmark's (|bench| × bands
    rows, tiny next to the corpus) into the corpus banded stream, then
    verifies the candidates with exact cross-table Jaccard.  Unlike
    :func:`decontaminate`, whose lazy result keeps its checkpoint
    pinned, the verified pair set is eager and every other block is
    released before returning.

    Modes: ``'remove'`` anti-joins contaminated corpus docs out;
    ``'flag'`` adds boolean ``contaminated``; ``'pairs'`` returns the
    verified matches ``(corpus_id, bench_id, jaccard)`` — the audit
    artifact a release report wants.

    Exact duplicates are near-dups at every threshold, so this subsumes
    the 13-gram recipe's exact hits at ``threshold=1.0``; in practice run
    BOTH (exact 13-gram for long verbatim spans inside otherwise-distinct
    docs, fuzzy for whole-doc paraphrase leakage).
    """
    tail = _mode_tail(mode, "contaminated")
    c = corpus.select(F.col(id_col).alias("doc_id"),
                      F.col(text_col).alias("text"))
    b = benchmark.select(F.col(bench_id_col).alias("doc_id"),
                         F.col(bench_text_col).alias("text"))
    c_banded = _banded_signatures(c, "doc_id", "text", k, num_hashes,
                                  bands, hash_family)
    b_banded = _banded_signatures(b, "doc_id", "text", k, num_hashes,
                                  bands, hash_family)
    matched = _banded_match(
        c_banded, b_banded,
        lambda ids: _candidate_shingles(c, ids, "doc_id", "text", k),
        lambda ids: _candidate_shingles(b, ids, "doc_id", "text", k),
        threshold).selectExpr("b AS corpus_id", "a AS bench_id", "jaccard")
    return tail(corpus, id_col, matched, "corpus_id")


# ---------------------------------------------------------------------------
# Persistent LSH index: incremental dedup for continuously-ingesting corpora.

_INDEX_META = "_versa_lsh_index.json"
_INDEX_FORMAT = 2


def _index_hash_sql(arr: str, hash_family: str) -> str:
    """SQL text hashing every shingle of the array expression ``arr``
    in-row: 64-bit xxhash64 for the fast JVM family, the 48-bit md5
    integer for the SQL-reproducible family (the same value the minhash
    signature arithmetic starts from).  The index writer and the batch
    side of :func:`dedup_against_index` both hash through it."""
    return f"transform({arr}, _s -> {family_hash_sql(hash_family, '_s')})"


def _require_index_v2(meta: dict, path: str) -> None:
    """Refuse a format-1 index: only :func:`compact_dedup_index` reads
    it."""
    if meta.get("format") != _INDEX_FORMAT:
        raise ValueError(
            f"dedup index at {path} is format {meta.get('format', 1)}, "
            f"this version reads format {_INDEX_FORMAT}; migrate it with "
            "compact_dedup_index(spark, src, dst)")


def write_dedup_index(df: DataFrame, path: str, id_col: str = "doc_id",
                      text_col: str = "text", k: int = 3,
                      num_hashes: int = 64, bands: int = 16,
                      hash_family: str = "xxhash64",
                      mode: str = "overwrite") -> None:
    """Persist the near-dup LSH index of a corpus so later batches can
    dedup against it WITHOUT re-reading the corpus text — the
    continuous-ingestion pattern: full LSH over the historical corpus
    per arriving batch is O(corpus · batches); an index makes each
    batch O(batch + candidates).

    Stored under ``path`` (any Hadoop filesystem), format 2:
    * ``banded/``   — (doc_id, band, bucket) LSH discovery rows;
    * ``shingles/`` — (doc_id, sh array<bigint>), one row per doc: the
      doc's distinct shingles, each hashed in-row (64-bit xxhash64 or
      the 48-bit md5 family value).  Verify intersects these arrays, so
      the text itself never needs to be stored or re-read (collision
      probability per doc pair ~ |A|·|B|/2^64: negligible);
    * ``sizes/``    — (doc_id, n_sh = size(sh)), the indexed ids;
    * a JSON sidecar pinning (k, num_hashes, bands, hash_family, format)
      so a reader can never band a batch with mismatched parameters
      (the storage.py layout-sidecar discipline).

    ``mode`` is ``'overwrite'`` or ``'append'``.  ``'append'`` adds new
    documents to an existing index (ids must be disjoint from those
    already indexed — the caller's ingestion key discipline); the
    sidecar is validated against the existing one.

    Crash consistency: every write deletes the sidecar before its first
    table write and re-writes it after all three tables land, so an
    interrupted build, append or overwrite leaves a sidecar-less index
    that readers refuse rather than mixed tables under a valid-looking
    sidecar.  Every argument is checked before the sidecar is deleted,
    so a bad call leaves an existing index readable."""
    from versa_spark.storage import delete_sidecar, write_json_sidecar
    if mode not in ("overwrite", "append"):
        raise ValueError(f"unknown mode {mode!r} (use 'overwrite', "
                         "'append')")
    spark = df.sparkSession
    # both frames validate bands and hash_family as they are built, so a
    # bad argument raises here, before the sidecar below is deleted
    banded = _banded_signatures(df, id_col, text_col, k, num_hashes,
                                bands, hash_family)
    sh = df.select(F.col(id_col).alias("doc_id"),
                   F.expr(_index_hash_sql(_shingle_sql(text_col, k),
                                          hash_family)).alias("sh"))
    meta = {"k": k, "num_hashes": num_hashes, "bands": bands,
            "hash_family": hash_family, "format": _INDEX_FORMAT}
    if mode == "append":
        existing = read_dedup_index_meta(spark, path)
        if existing is None:
            # tables without a sidecar are what an interrupted write
            # leaves; appending would stack this batch's rows on the
            # partial attempt's under a re-legitimized sidecar.  A
            # sidecar-less append is allowed only onto an empty path
            # (where it degrades to a fresh build).
            from versa_spark.storage import hadoop_path_exists
            if hadoop_path_exists(spark, f"{path}/banded"):
                raise ValueError(
                    f"index tables exist at {path} but the sidecar is "
                    "missing — likely an interrupted write; rebuild with "
                    "mode='overwrite' (appending onto the partial attempt "
                    "would double-count its rows)")
        else:
            _require_index_v2(existing, path)
            if existing != meta:
                raise ValueError(
                    f"index at {path} was written with {existing}; "
                    f"appending with {meta} would corrupt it")
    delete_sidecar(spark, f"{path}/{_INDEX_META}")
    banded.write.mode(mode).parquet(f"{path}/banded")
    sh.write.mode(mode).parquet(f"{path}/shingles")
    if mode == "overwrite":
        # sizes from the parquet JUST WRITTEN, not the lineage:
        # re-running the read->normalize->shingle->hash DAG would
        # double the most expensive stage of the build for identical
        # output.  Schema is pinned from the writer's frame: a fresh
        # build over an EMPTY corpus writes no part files, and schema
        # inference over those would throw UNABLE_TO_INFER_SCHEMA (the
        # kg/job.py _run_stage discipline).
        sh = spark.read.schema(sh.schema).parquet(f"{path}/shingles")
    # on append, sizes come from the batch lineage: ids are disjoint
    # from the indexed corpus (the append contract), so the batch's
    # rows simply append — O(batch), where re-reading the whole
    # shingles/ table would cost O(corpus) per append
    (sh.selectExpr("doc_id", "CAST(size(sh) AS BIGINT) AS n_sh")
     .write.mode(mode).parquet(f"{path}/sizes"))
    write_json_sidecar(spark, f"{path}/{_INDEX_META}", meta)


def read_dedup_index_meta(spark: SparkSession | None,
                          path: str) -> dict | None:
    """The banding parameters an index at *path* was written with (None
    if absent).  Read/parse failures propagate — a swallowed transport
    error would let a batch band itself with default parameters against
    an incompatible index and silently find nothing."""
    from versa_spark.storage import read_json_sidecar
    return read_json_sidecar(spark, f"{path}/{_INDEX_META}")


def compact_dedup_index(spark: SparkSession, src: str, dst: str) -> None:
    """Rewrite an LSH index into a fresh path with bounded file counts,
    migrating it to format 2 on the way.

    Compaction: every :func:`write_dedup_index` append adds its own part
    files to banded/shingles/sizes, and after thousands of ingestion
    batches the per-query scan cost is dominated by file-open overhead
    (the small-file pathology: per-file open and footer costs grow with
    the number of appends, not with the rows indexed).  Each table is
    rewritten with the KG job's write-sizing rule
    (``storage._split_sized``) over its on-disk size, which a plain
    rewrite's cost tracks: as many files as Spark's scan split rule
    gives that size, one for a small index.

    Migration: a format-1 index (sidecar without ``format``) stored one
    ``(doc_id, sh_h)`` row per shingle hash.  Those rows are regrouped
    into format 2's per-doc ``(doc_id, sh)`` arrays; ``banded/`` and
    ``sizes/`` copy as they are.  No corpus text is needed — an index
    may outlive the text it was built from.  This is the only reader of
    format 1.

    Crash-safe by construction (the compact_to discipline): ``src`` is
    never touched, ``dst`` must not already hold an index, and the
    sidecar is written LAST — an interrupted compaction leaves a
    sidecar-less ``dst`` that every reader refuses; delete it and
    re-run.  Query results are identical before/after: compaction
    changes layout, not content."""
    meta = read_dedup_index_meta(spark, src)
    if meta is None:
        raise ValueError(f"no dedup index sidecar at {src}")
    if read_dedup_index_meta(spark, dst) is not None:
        raise ValueError(f"{dst!r} already holds an index "
                         "(delete it first)")
    from pyspark.errors import AnalysisException

    from versa_spark.storage import _split_sized, write_json_sidecar
    for table in ("banded", "shingles", "sizes"):
        try:
            t = spark.read.parquet(f"{src}/{table}")
        except AnalysisException:
            # a fresh build over an EMPTY corpus writes no part files
            # (see write_dedup_index's sizes comment) — mirror the
            # source state rather than failing: the target stays as
            # schema-less as the source, and the first append
            # populates it identically
            continue
        if table == "shingles" and meta.get("format") != _INDEX_FORMAT:
            t = t.groupBy("doc_id").agg(F.collect_list("sh_h").alias("sh"))
        _split_sized(t).write.mode("overwrite").parquet(f"{dst}/{table}")
    write_json_sidecar(spark, f"{dst}/{_INDEX_META}",
                       {**meta, "format": _INDEX_FORMAT})


def dedup_against_index(batch: DataFrame, path: str,
                        id_col: str = "doc_id", text_col: str = "text",
                        threshold: float = 0.8,
                        mode: str = "remove") -> DataFrame:
    """Near-dup-match a new batch against a stored :func:`write_dedup_index`
    — the incremental complement of :func:`dedup_corpus` (which dedups
    within one frame) and :func:`decontaminate_fuzzy` (which re-shingles
    both sides every call).

    Banding parameters come from the index sidecar, never from the
    caller — a mismatched banding finds nothing, silently.  A format-1
    index is refused; :func:`compact_dedup_index` migrates it.

    Plan shape: the BATCH is the small side of :func:`_banded_match`,
    so its banded rows are broadcast into a map-side scan of the stored
    ``banded/`` table.  The batch re-shingles only its candidate docs
    and hashes them in-row; the stored ``shingles/`` arrays are read
    once, semi-joined to candidate index ids — no explode, no per-hash
    join, no ``sizes/`` read.  Per-batch cost is O(batch + index-scan +
    candidates); the corpus text is never read.

    Modes: ``'remove'`` drops batch docs that match an indexed doc,
    ``'flag'`` adds boolean ``is_dup``, ``'pairs'`` returns
    ``(batch_id, index_id, jaccard)``.

    Note exact self-duplicates WITHIN the batch are not this function's
    job — run :func:`dedup_corpus` on the batch first (or after), then
    append the survivors to the index with ``mode='append'``."""
    tail = _mode_tail(mode, "is_dup")
    spark = batch.sparkSession
    meta = read_dedup_index_meta(spark, path)
    if meta is None:
        raise ValueError(f"no LSH index sidecar at {path}")
    _require_index_v2(meta, path)
    k, num_hashes = meta["k"], meta["num_hashes"]
    bands, hash_family = meta["bands"], meta["hash_family"]
    b = batch.select(F.col(id_col).alias("doc_id"),
                     F.col(text_col).alias("text"))
    b_banded = _banded_signatures(b, "doc_id", "text", k, num_hashes,
                                  bands, hash_family)
    matched = _banded_match(
        spark.read.parquet(f"{path}/banded"), b_banded,
        lambda ids: (spark.read.parquet(f"{path}/shingles")
                     .join(ids, "doc_id", "left_semi")),
        lambda ids: _candidate_shingles(b, ids, "doc_id", "text", k)
        .selectExpr("doc_id",
                    f"{_index_hash_sql('sh', hash_family)} AS sh"),
        threshold).selectExpr("a AS batch_id", "b AS index_id", "jaccard")
    return tail(batch, id_col, matched, "batch_id")
