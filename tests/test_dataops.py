"""Tests for the training-data pipeline ops: text analysis, dedup family,
similarity search, multimodal plumbing."""

import math

import pytest

from pyspark.sql import functions as F

from versa_spark import dedup, multimodal, simsearch, textops

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_token_counts(spark):
    df = spark.createDataFrame(
        [(1, "hello world, it's 2024!"), (2, ""), (3, "one")],
        ["doc_id", "text"])
    rows = {r.doc_id: r for r in textops.token_counts(df).collect()}
    assert rows[1].ws_tokens == 4
    # hello|world|,|it|'|s|202|4|! = 9 BPE-ish pieces (digits chunk by 3)
    assert rows[1].bpe_tokens == 9
    assert rows[2].ws_tokens == 0 and rows[2].bpe_tokens == 0
    assert rows[3].ws_tokens == 1


def test_quality_score(spark):
    good = "the quick brown fox jumps over the lazy dog " * 3
    bad = "!!! ??? ### $$$ %%%"
    df = spark.createDataFrame([(1, good), (2, bad)], ["doc_id", "text"])
    rows = {r.doc_id: r for r in textops.quality_score(df).collect()}
    assert rows[1].quality >= 0.8
    assert rows[2].quality <= 0.4
    assert rows[1].stopword_ratio > 0.1


def test_lang_id(spark):
    df = spark.createDataFrame([
        (1, "the house and the garden of the king is in the town"),
        (2, "le chien de la maison est dans le jardin avec les enfants"),
        (3, "die kinder und der hund sind in dem schoenen garten"),
        (4, "xqz vjw 123"),
    ], ["doc_id", "text"])
    rows = {r.doc_id: r.lang_pred
            for r in textops.with_lang_id(df).collect()}
    assert rows[1] == "en" and rows[2] == "fr" and rows[3] == "de"
    assert rows[4] == "und"


def test_doc_fingerprint_normalizes(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, "different")],
        ["doc_id", "text"])
    rows = {r.doc_id: (r.fp_md5, r.fp_xx64)
            for r in textops.doc_fingerprint(df).collect()}
    assert rows[1] == rows[2] != rows[3]


def test_exact_duplicates(spark, docs):
    dup = docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    both = docs.select("doc_id", "text").limit(50).unionByName(
        dup.limit(50))
    groups = dedup.exact_duplicates(both).collect()
    assert len(groups) == 50
    assert all(g.n_docs == 2 and g.doc_ids[1] - g.doc_ids[0] == 100000
               for g in groups)


def test_ngram_jaccard_and_minhash_agree(spark):
    base = ("spark join merge sort window filter batch stream vector "
            "query table column agg scan the fast slow big small")
    rows = [(1, base), (2, base + " extra"),  # near-dup of 1
            (3, "completely different words entirely other content here "
                "nothing shared with any of the previous documents at all"),
            (4, base)]                        # exact dup of 1
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    exact = {(r.a, r.b) for r in dedup.ngram_jaccard_pairs(
        df, threshold=0.5).collect()}
    assert (1, 4) in exact and (1, 2) in exact and (2, 4) in exact
    assert not any(3 in p for p in exact)
    # LSH candidates + verification reproduce the exact pairs
    lsh = {(r.a, r.b) for r in dedup.minhash_lsh_candidates(
        df, verify_threshold=0.5).collect()}
    assert lsh == exact


def test_minhash_signature_properties(spark):
    rows = [(1, "a b c d e f g h i j"), (2, "a b c d e f g h i j"),
            (3, "z y x w v u t s r q")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = {r.doc_id: r.sig
            for r in dedup.minhash_signatures(df, num_hashes=16).collect()}
    assert sigs[1] == sigs[2]       # identical docs → identical signatures
    assert sigs[1] != sigs[3]
    assert len(sigs[1]) == 16


def test_simhash_near_dups(spark):
    base = " ".join(f"word{i}" for i in range(50))
    rows = [(1, base), (2, base + " tail"), (3, " ".join(
        f"other{i}" for i in range(50)))]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = {r.doc_id: r.simhash
            for r in dedup.simhash_signatures(df).collect()}
    ham12 = bin((sigs[1] ^ sigs[2]) & ((1 << 64) - 1)).count("1")
    ham13 = bin((sigs[1] ^ sigs[3]) & ((1 << 64) - 1)).count("1")
    assert ham12 < ham13
    pairs = {(r.a, r.b): r.hamming for r in dedup.simhash_near_dups(
        df, max_hamming=8).collect()}
    assert (1, 2) in pairs and (1, 3) not in pairs


def test_embedding_near_dups_and_bruteforce(spark, emb):
    # self-similarity via duplicated vectors
    dup = emb.select((F.col("vec_id") + 10000).alias("vec_id"),
                     "embedding").limit(5)
    both = emb.select("vec_id", "embedding").limit(20).unionByName(dup)
    pairs = dedup.embedding_near_dups(both, threshold=0.999999).collect()
    got = {(r.a, r.b) for r in pairs}
    assert {(i, i + 10000) for i in range(5)} <= got


def test_bruteforce_vs_lsh_topk(spark, emb):
    queries = emb.limit(3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    exact = simsearch.bruteforce_topk(emb, queries, k=5)
    by_q = {}
    for r in exact.collect():
        by_q.setdefault(r.q_id, []).append((r.rank, r.vec_id, r.cosine))
    # rank 1 of each query is the query itself (cosine 1.0)
    for q, rows in by_q.items():
        rows.sort()
        assert rows[0][1] == q and abs(rows[0][2] - 1.0) < 1e-5
    # LSH with few planes: the self-match must also be found (same bucket)
    approx = simsearch.lsh_topk(emb, queries, k=5, n_planes=4, dim=64)
    arows = {(r.q_id, r.vec_id) for r in approx.collect()}
    for q in by_q:
        assert (q, q) in arows


def test_multimodal_plumbing(spark):
    media = multimodal.synthetic_media(spark, 30)
    feats = multimodal.extract_features(media, dim=8).collect()
    assert len(feats) == 30
    for r in feats:
        assert len(r.feature) == 8
        assert abs(sum(r.feature) - 1.0) < 1e-6
        assert r.n_bytes > 0
    # deterministic: same media_id → same feature
    again = {r.media_id: r.feature
             for r in multimodal.extract_features(media, dim=8).collect()}
    assert all(again[r.media_id] == r.feature for r in feats)
    # decode stub is explicit
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"bytes")
    # frame sampling plan never touches payload
    plan = multimodal.frame_sample_plan(media, every_ms=500)
    assert "payload" not in plan.columns and plan.count() > 0
    stats = {r.kind: r.n for r in multimodal.media_stats(media).collect()}
    assert set(stats) == {"image", "audio", "video"}


def test_lsh_verify_is_candidate_scoped(spark, monkeypatch):
    """Regression guard for the round-1 scale defect: the LSH verify stage
    must compute Jaccard ONLY over candidate pairs, never the full-corpus
    all-pairs shingle join."""
    base = ("spark join merge sort window filter batch stream vector "
            "query table column agg scan the fast slow big small")
    rows = [(1, base), (2, base + " extra"), (3, "nothing shared at all "
            "completely other words elsewhere entirely different content"),
            (4, base)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    scoped_docs = []
    orig = dedup._verify_candidates

    def spy(cands, a_sh, b_sh, threshold):
        # collected here: the shingle checkpoint is released on return
        scoped_docs.append({r.doc_id for r in a_sh.union(b_sh).collect()})
        return orig(cands, a_sh, b_sh, threshold)

    # verify must run the shared candidate kernel over the candidate
    # docs only (doc 3 shares no LSH bucket)
    monkeypatch.setattr(dedup, "_verify_candidates", spy)
    got = {(r.a, r.b) for r in dedup.minhash_lsh_candidates(
        df, verify_threshold=0.5).collect()}
    assert scoped_docs == [{1, 2, 4}], \
        "verify stage ran the unscoped full-corpus Jaccard"
    exact = {(r.a, r.b) for r in dedup.ngram_jaccard_pairs(
        df, threshold=0.5).collect()}
    assert got == exact


def test_md5_hash_family_matches_xxhash_semantics(spark):
    """The DuckDB-oracle-able md5 families find the same near-dups."""
    base = ("spark join merge sort window filter batch stream vector "
            "query table column agg scan the fast slow big small")
    rows = [(1, base), (2, base + " extra"), (3, "nothing shared at all "
            "completely other words elsewhere entirely different content"),
            (4, base)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    lsh_md5 = {(r.a, r.b) for r in dedup.minhash_lsh_candidates(
        df, verify_threshold=0.5, hash_family="md5").collect()}
    lsh_xx = {(r.a, r.b) for r in dedup.minhash_lsh_candidates(
        df, verify_threshold=0.5).collect()}
    assert lsh_md5 == lsh_xx
    # simhash md5 family: 64-char bit-string signatures, same near-dups
    long_base = " ".join(f"word{i}" for i in range(50))
    df2 = spark.createDataFrame(
        [(1, long_base), (2, long_base + " tail"),
         (3, " ".join(f"other{i}" for i in range(50)))],
        ["doc_id", "text"])
    sigs = {r.doc_id: r.simhash for r in dedup.simhash_signatures(
        df2, hash_family="md5").collect()}
    assert all(len(s) == 64 and set(s) <= {"0", "1"}
               for s in sigs.values())
    pairs = {(r.a, r.b) for r in dedup.simhash_near_dups(
        df2, max_hamming=8, hash_family="md5").collect()}
    assert (1, 2) in pairs and (1, 3) not in pairs


def test_connected_components_chain_converges_logarithmically(spark):
    """A 1000-hop chain converges in ~log2(n) rounds (pointer doubling),
    not O(n) — the round-1 neighbor-min version needed 999 rounds."""
    n = 1000
    pairs = spark.range(n - 1).select(
        F.col("id").alias("a"), (F.col("id") + 1).alias("b"))
    before = _n_cached_rdds(spark)
    labels, rounds = dedup.connected_components(pairs, with_rounds=True)
    comps = {r.doc_id: r.component for r in labels.collect()}
    assert len(comps) == n and set(comps.values()) == {0}
    assert rounds <= 14, f"chain of {n} took {rounds} rounds (not O(log n))"
    # each round frees the previous round's label checkpoint and the
    # edge cache is released: only the returned labels stay pinned
    assert rounds >= 4
    assert _n_cached_rdds(spark) - before <= 1
    # non-convergence raises instead of silently splitting components
    with pytest.raises(RuntimeError):
        dedup.connected_components(pairs, max_iters=2)


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_merge_duplicates_broadcast_branches_agree(spark, monkeypatch,
                                                   no_auto_broadcast):
    """The id mapping is broadcast at the default cap (both rewrite
    joins); with the cap patched to 0 both joins shuffle, with the
    same rows."""
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)],
                                  "a long, b long")
    links = spark.createDataFrame(
        [("3", "cites", "11"), ("2", "cites", "5"), ("7", "cites", "1")],
        "origin string, rel string, target string")
    expected = {("1", "cites", "10"), ("1", "cites", "5"),
                ("7", "cites", "1")}
    joins = []
    for cap in (dedup._MERGE_BROADCAST_ROWS, 0):
        monkeypatch.setattr(dedup, "_MERGE_BROADCAST_ROWS", cap)
        out = dedup.merge_duplicates(links, pairs)
        assert {(r.origin, r.rel, r.target)
                for r in out.collect()} == expected
        joins.append([ln for ln in _plan(out).splitlines()
                      if "LeftOuter" in ln])
    assert joins[0] and all("BroadcastHashJoin" in ln for ln in joins[0])
    assert joins[1] and not any("BroadcastHashJoin" in ln
                                for ln in joins[1])


def test_connected_components_and_merge(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "a long, b long")
    cc = {r.doc_id: r.component
          for r in dedup.connected_components(pairs).collect()}
    assert cc[1] == cc[2] == cc[3] == 1
    assert cc[10] == cc[11] == 10
    assert cc[20] == cc[21] == cc[22] == cc[23] == 20
    # merge: link rewrite collapses members to representatives
    links = spark.createDataFrame(
        [("3", "cites", "22"), ("11", "cites", "5"), ("7", "cites", "7")],
        "origin string, rel string, target string")
    merged = {(r.origin, r.rel, r.target)
              for r in dedup.merge_duplicates(links, pairs).collect()}
    assert merged == {("1", "cites", "20"), ("10", "cites", "5"),
                      ("7", "cites", "7")}


def test_ivf_topk_finds_self_matches(spark, emb):
    queries = emb.orderBy("vec_id").limit(4).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    out = simsearch.ivf_topk(emb, queries, k=5, n_cells=8, nprobe=2)
    rows = {(r.q_id, r.vec_id): r for r in out.collect()}
    # the query's own vector is in its probed cell → rank 1, cosine 1
    for q in [r.q_id for r in queries.collect()]:
        assert (q, q) in rows
        assert rows[(q, q)].rank == 1
    # IVF results are a subset of brute-force candidates re-ranked exactly:
    # every returned cosine matches the brute-force cosine for that pair
    bf = {(r.q_id, r.vec_id): r.cosine
          for r in simsearch.bruteforce_topk(emb, queries, k=500).collect()}
    for key, r in rows.items():
        assert abs(bf[key] - r.cosine) < 1e-9


def _synthetic_vectors(spark, dim, n=24):
    """n deterministic dim-wide vectors as (vec_id, embedding) rows and
    the same values as an n × dim numpy matrix."""
    import numpy as np
    rows = [(i, [float(((i * 31 + j * 17) % 97) - 48) / 48.0
                 for j in range(dim)]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return df, np.array([r[1] for r in rows])


def test_high_dim_lsh_and_ivf_use_udf_path(spark):
    """Bucket signatures and cell assignment equal a plain numpy
    reference at a small and a large dim (sign bit ``dot >= 0`` on
    rounded dots; first index on an argmax tie), and the LSH/IVF
    invariants hold: self-match found at cosine 1 / rank 1."""
    import numpy as np
    for dim in (8, 600):
        emb2, mat = _synthetic_vectors(spark, dim)
        planes = simsearch.hyperplanes(dim, 8)
        sigs = {r.vec_id: r.bucket
                for r in simsearch.random_hyperplane_signatures(
                    emb2, "embedding", planes, round_digits=9).collect()}
        bits = np.round(mat @ np.array(planes).T, 9) >= 0
        assert sigs == {i: int(b @ (1 << np.arange(8)))
                        for i, b in enumerate(bits)}
        cells = {r.vec_id: r.cell for r in simsearch.ivf_assign(
            emb2, mat[:8].tolist(), "embedding").collect()}
        assert cells == dict(enumerate(np.argmax(mat @ mat[:8].T, axis=1)))

        queries = emb2.limit(3).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
        approx = simsearch.lsh_topk(emb2, queries, k=3, n_planes=8, dim=dim)
        arows = {(r.q_id, r.vec_id): r.cosine for r in approx.collect()}
        for q in (0, 1, 2):
            assert (q, q) in arows and abs(arows[(q, q)] - 1.0) < 1e-6
        out = simsearch.ivf_topk(emb2, queries, k=3, n_cells=8, nprobe=2)
        rows = {(r.q_id, r.vec_id): r for r in out.collect()}
        for q in (0, 1, 2):
            assert (q, q) in rows and rows[(q, q)].rank == 1


def test_ivf_kmeans_refinement_keeps_invariants(spark, emb):
    """Lloyd-refined IVF: same invariants (self-match rank 1, exact
    re-rank cosines), deterministic across invocations."""
    queries = emb.orderBy("vec_id").limit(3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    out1 = simsearch.ivf_topk(emb, queries, k=5, n_cells=8, nprobe=2,
                              refine_iters=2)
    rows = {(r.q_id, r.vec_id): r for r in out1.collect()}
    for q in [r.q_id for r in queries.collect()]:
        assert (q, q) in rows and rows[(q, q)].rank == 1
    out2 = {(r.q_id, r.vec_id, r.rank)
            for r in simsearch.ivf_topk(emb, queries, k=5, n_cells=8,
                                        nprobe=2, refine_iters=2).collect()}
    assert out2 == {(r.q_id, r.vec_id, r.rank) for r in rows.values()}
    # refined centroids differ from the raw seed (the refinement ran)
    seed = [list(r.embedding) for r in
            emb.orderBy("vec_id").limit(8).collect()]
    refined = simsearch.kmeans_centroids(emb, n_cells=8, iters=1)
    assert refined != seed


def test_winnow_fingerprints(spark):
    """Winnowing guarantee: docs sharing a substring of length >=
    k + window - 1 share a fingerprint; identical docs share ALL."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(1, base), (2, base), (3, "prefix junk " + base + " tail bits"),
            (4, "completely unrelated content with zero overlap here")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    fps = {}
    for r in textops.winnow_fingerprints(df, k=5, window=4).collect():
        fps.setdefault(r.doc_id, set()).add(r.fp)
    assert fps[1] == fps[2]                      # identical docs
    assert fps[1] & fps[3]                       # long shared substring
    assert not (fps[1] & fps[4])                 # disjoint content
    # md5 family produces the same *structure* (48-bit ints) and obeys
    # the same guarantees
    fps_md5 = {}
    for r in textops.winnow_fingerprints(df, k=5, window=4,
                                         hash_family="md5").collect():
        fps_md5.setdefault(r.doc_id, set()).add(r.fp)
    assert fps_md5[1] == fps_md5[2] and fps_md5[1] & fps_md5[3]
    assert all(0 <= f < (1 << 48) for f in fps_md5[1])
    # sub-k-length docs yield no fingerprints
    tiny = spark.createDataFrame([(9, "abc")], ["doc_id", "text"])
    assert textops.winnow_fingerprints(tiny, k=5, window=4).count() == 0


def test_event_sessionization(spark):
    """Gap sessionization: boundaries at > gap, stacked windows share one
    exchange (single Exchange for both lag and running sum)."""
    from datetime import datetime as dt
    from versa_spark import events as ev
    rows = [
        (1, "u1", dt(2024, 1, 1, 0, 0, 0), "view", 1.0, '{"k": 5}'),
        (2, "u1", dt(2024, 1, 1, 0, 10, 0), "click", 2.0, '{"k": 9}'),
        (3, "u1", dt(2024, 1, 1, 1, 0, 0), "view", 3.0, '{"k": 2}'),   # gap
        (4, "u2", dt(2024, 1, 1, 0, 0, 0), "error", 4.0, '{"k": 1}'),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id string, ts timestamp, "
              "event_type string, value double, props string")
    out = {(r.user_id, r.session_id): r
           for r in ev.session_stats(df, gap_minutes=30).collect()}
    assert out[("u1", 0)].n_events == 2 and out[("u1", 0)].span_s == 600
    assert out[("u1", 0)].value_sum == 3.0 and out[("u1", 0)].max_k == 9
    assert out[("u1", 1)].n_events == 1
    assert out[("u2", 0)].n_events == 1 and out[("u2", 0)].n_types == 1
    plan = ev.sessionize(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, "stacked windows must share one exchange"


def test_connected_components_random_graphs_vs_union_find(spark):
    """Randomized cross-check: CC labels equal a pure-Python union-find
    on seeded random graphs (mix of chains, stars, and random edges)."""
    import random

    def union_find(edges, nodes):
        parent = {n: n for n in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # min-id representative per component
        comp = {}
        for n in nodes:
            r = find(n)
            comp.setdefault(r, []).append(n)
        return {n: min(members) for r, members in comp.items()
                for n in members}

    for seed in (7, 42, 1234):
        rng = random.Random(seed)
        n = 120
        edges = set()
        for i in range(0, 40):                      # chain segment
            edges.add((i, i + 1))
        hub = 60
        for i in range(61, 80):                     # star
            edges.add((hub, i))
        while len(edges) < 90:                      # random edges
            a, b = rng.randrange(n), rng.randrange(n)
            if a != b:
                edges.add((min(a, b), max(a, b)))
        nodes = {x for e in edges for x in e}
        pairs = spark.createDataFrame(sorted(edges), "a long, b long")
        got = {r.doc_id: r.component
               for r in dedup.connected_components(pairs).collect()}
        assert got == union_find(edges, nodes), f"seed {seed}"


def test_dedup_corpus_end_to_end(spark):
    """The one-call dedup pipeline keeps exactly one representative per
    near-dup cluster and leaves uniques untouched."""
    base = ("spark join merge sort window filter batch stream vector "
            "query table column agg scan the fast slow big small")
    other = ("completely different unrelated words entirely other "
             "content here nothing shared with any previous documents")
    rows = [(1, base), (2, base + " extra"), (3, base),      # cluster {1,2,3}
            (10, other), (11, other + " tail"),              # cluster {10,11}
            (20, "a lonely unique document all by itself today")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    kept = {r.doc_id for r in dedup.dedup_corpus(
        df, threshold=0.5).collect()}
    assert kept == {1, 10, 20}


def test_repetition_stats(spark):
    """Gopher repetition signals: exact fractions on a hand-computable
    fixture."""
    rows = [(1, "a b a b a b"),          # words: a,b ×3 — heavy repeat
            (2, "one two three four"),   # all unique
            (3, "x")]                    # single word, no grams
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in textops.repetition_stats(df).collect()}
    # doc 1: 6 words, 2 distinct -> dup_word 1 - 2/6
    assert abs(out[1].dup_word_frac - (1 - 2 / 6)) < 1e-6
    # bigrams of doc1: 'a b' x3, 'b a' x2 -> top = 3/5; all 5 occurrences
    # are of grams appearing >1 -> trigram dup: 'a b a' x2, 'b a b' x2 -> 4/4
    assert abs(out[1].top_bigram_frac - 3 / 5) < 1e-6
    assert abs(out[1].dup_trigram_frac - 1.0) < 1e-6
    assert out[2].dup_word_frac == 0.0
    assert out[2].dup_trigram_frac == 0.0
    assert out[3].top_bigram_frac == 0.0 and out[3].dup_trigram_frac == 0.0


def test_ivf_probe_path_constant_plan(spark):
    """The query→cell probe ranking runs through the matmul pandas UDF
    at every dim — one ArrowEvalPython, the centroid matrix never in the
    plan, so the plan is the same size at dim 8 and dim 600 — and the
    probed cells and the final ivf_topk equal a plain numpy reference
    (score-desc, cell-asc probes; cosine-desc, vec_id-asc ranks)."""
    import re

    import numpy as np
    plan_sizes = []
    for dim in (8, 600):
        emb2, mat = _synthetic_vectors(spark, dim)
        queries = emb2.limit(3).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
        q = queries.select("q_id", F.col("q_vec").alias("q"))
        probes = simsearch.probe_cells(q, mat[:8].tolist(), nprobe=2)
        plan = probes._jdf.queryExecution().executedPlan().toString()
        assert plan.count("ArrowEvalPython") == 1
        plan_sizes.append(len(re.sub(r"\d+", "", plan)))

        scores = mat @ mat[:8].T
        ref_cells = {i: np.argsort(-scores[i], kind="stable")[:2].tolist()
                     for i in range(3)}
        assert {r.q_id: list(r.cells) for r in probes.collect()} == ref_cells

        cell_of = np.argmax(scores, axis=1)
        unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        ref_topk = set()
        for i, probed in ref_cells.items():
            cands = [j for j in range(len(mat)) if cell_of[j] in probed]
            ranked = sorted(cands, key=lambda j: (-round(
                float(unit[i] @ unit[j]), 9), j))[:3]
            ref_topk |= {(i, j, r + 1) for r, j in enumerate(ranked)}
        topk = {(r.q_id, r.vec_id, r.rank) for r in simsearch.ivf_topk(
            emb2, queries, k=3, n_cells=8, nprobe=2).collect()}
        assert topk == ref_topk
        assert {(q_, v) for q_, v, r in topk if r == 1} == \
            {(0, 0), (1, 1), (2, 2)}
    # a literal centroid matrix would add ~600 × 8 float literals
    assert plan_sizes[0] == plan_sizes[1], plan_sizes


def test_null_vector_and_empty_centroids(spark):
    """A null vector gets a null bucket, cell and cells at every dim, so
    the bucket and cell joins drop it."""
    for dim in (8, 600):
        emb2, mat = _synthetic_vectors(spark, dim, n=6)
        with_null = emb2.unionByName(spark.createDataFrame(
            [(99, None)], "vec_id long, embedding array<double>"))
        cents = mat[:2].tolist()
        for out, col in (
                (simsearch.random_hyperplane_signatures(
                    with_null, "embedding", simsearch.hyperplanes(dim, 8)),
                 "bucket"),
                (simsearch.ivf_assign(with_null, cents, "embedding"), "cell"),
                (simsearch.probe_cells(with_null, cents, 2, "embedding"),
                 "cells")):
            assert [r.vec_id for r in out.filter(F.col(col).isNull())
                    .collect()] == [99]

        queries = with_null.select(F.col("vec_id").alias("q_id"),
                                   F.col("embedding").alias("q_vec"))
        for out in (simsearch.lsh_topk(with_null, queries, k=2, dim=dim),
                    simsearch.ivf_topk(with_null, queries, k=2, n_cells=2)):
            ids = {(r.q_id, r.vec_id) for r in out.collect()}
            assert ids and all(99 not in pair for pair in ids)


def test_lsh_n_planes_capped_at_63(spark, emb):
    """Bucket bit b is weighted 1 << b into a signed long: a 64th plane
    would overflow, so both entry points refuse n_planes > 63."""
    with pytest.raises(ValueError, match="63"):
        simsearch.hyperplanes(8, 64)
    planes_64 = [[1.0] * 4 for _ in range(64)]
    with pytest.raises(ValueError, match="63"):
        simsearch.random_hyperplane_signatures(
            emb.select(F.col("embedding").alias("v")), "v", planes_64)
    # 63 planes is legal end-to-end (top bit lands on 1 << 62)
    sigs = simsearch.random_hyperplane_signatures(
        emb.limit(4).select(F.col("embedding").alias("v")), "v",
        simsearch.hyperplanes(64, 63))
    assert sigs.count() == 4


def test_ngram_jaccard_duplicate_candidates_guarded(spark):
    """Duplicate (a, b) candidate rows must not double-count n_inter
    (jaccard > 1 / false positives): the pair list is deduped internally."""
    rows = [(1, "w1 w2 w3 w4 w5 w6"), (2, "w1 w2 w3 w4 w5 seven")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    cands = spark.createDataFrame([(1, 2), (1, 2), (1, 2)], ["a", "b"])
    out = dedup.ngram_jaccard_pairs(df, threshold=0.0, candidates=cands) \
        .collect()
    assert len(out) == 1
    ref = dedup.ngram_jaccard_pairs(df, threshold=0.0).collect()
    assert out[0].jaccard == ref[0].jaccard and out[0].jaccard <= 1.0


def _n_cached_rdds(spark):
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def test_dedup_corpus_releases_caches(spark):
    """Cache hygiene (round-2 advice): the LSH candidate persist and the
    CC edge persist are released before dedup_corpus returns; only the
    two tiny eager localCheckpoints the result reads may remain, so
    repeated calls do not accumulate cached partitions."""
    base = ("spark join merge sort window filter batch stream vector "
            "query table column agg scan the fast slow big small")
    rows = [(i, base + f" v{i % 3}") for i in range(30)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    before = _n_cached_rdds(spark)
    dedup.dedup_corpus(df, threshold=0.5).count()
    first = _n_cached_rdds(spark)
    assert first - before <= 2, (before, first)
    for _ in range(3):
        dedup.dedup_corpus(df, threshold=0.5).count()
    after = _n_cached_rdds(spark)
    # each call may retain its ≤2 result checkpoints until GC, but the
    # per-call persists (candidates, edges, per-round labels) must be gone
    assert after - first <= 3 * 2, (first, after)


def test_transitive_closure_releases_edge_cache(spark):
    from versa_spark import ops
    links = spark.createDataFrame(
        [(f"n{i}", "http://example.org/next", f"n{i+1}", True)
         for i in range(6)], ["origin", "rel", "target", "t_iri"])
    before = _n_cached_rdds(spark)
    out = ops.transitive_closure(links, "n0", "http://example.org/next")
    assert out.count() == 6
    assert _n_cached_rdds(spark) - before <= 1  # only the result ckpt


def test_pgm_ppm_wav_roundtrip():
    """The numpy-only netpbm/WAV decoders are real: encode→decode is
    byte-exact, headers tolerate comments/whitespace, chunk walking
    skips extension chunks."""
    import numpy as np
    px = (np.arange(12) * 37) % 256
    w, h, arr = multimodal.decode_pgm_ppm(multimodal.encode_pgm(4, 3, px))
    assert (w, h) == (4, 3) and (arr.ravel() == px).all()
    rgb = (np.arange(24) * 11) % 256
    w, h, arr3 = multimodal.decode_pgm_ppm(multimodal.encode_ppm(2, 4, rgb))
    assert arr3.shape == (4, 2, 3) and (arr3.ravel() == rgb).all()
    # spec-level header: comments + arbitrary whitespace
    hand = b"P5 # a comment\n# another\n 3\t2 # dims\n255\n" + bytes(range(6))
    w, h, arr = multimodal.decode_pgm_ppm(hand)
    assert (w, h) == (3, 2) and arr.ravel().tolist() == list(range(6))

    s = ((np.arange(20) * 313) % 2003 - 1001).astype(np.int16)
    rate, back, n_ch = multimodal.decode_wav(multimodal.encode_wav(s, 8000))
    assert rate == 8000 and n_ch == 1 and (back == s).all()
    # chunk walking: a LIST chunk between fmt and data must be skipped
    import struct
    wav = multimodal.encode_wav(s, 8000)
    fmt_end = wav.index(b"data")
    padded = (wav[:fmt_end] + b"LIST" + struct.pack("<I", 4) + b"INFO"
              + wav[fmt_end:])
    rate, back, n_ch = multimodal.decode_wav(padded)
    assert rate == 8000 and n_ch == 1 and (back == s).all()


def test_decode_dispatch_codec_formats_still_stubbed():
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"\x89PNG\r\n\x1a\n....")
    with pytest.raises(NotImplementedError):
        multimodal.decode_audio(b"ID3\x04\x00....")
    import numpy as np
    arr = multimodal.decode_image(multimodal.encode_pgm(2, 2, [1, 2, 3, 4]))
    assert arr.tolist() == [[1, 2], [3, 4]]


def test_media_metadata_end_to_end(spark):
    """synthetic_codec_media emits genuine format bytes; the mapInPandas
    metadata extraction decodes them back and the statistics match the
    generating formulas exactly."""
    import numpy as np
    sf = "/root/testdata/sf0.001"
    media = multimodal.synthetic_codec_media(spark, sf, limit=40)
    rows = {r.media_id: r for r in
            multimodal.extract_media_metadata(media).collect()}
    assert len(rows) == 40
    for mid, r in rows.items():
        if mid % 2 == 0:
            w, h = mid % 8 + 2, mid % 4 + 2
            exp = float(np.mean((mid * 7 + np.arange(w * h)) % 256))
            assert (r.kind, r.width, r.height) == ("image", w, h)
            assert abs(r.mean_value - round(exp, 6)) < 1e-9
        else:
            n = mid % 32 + 8
            exp = float(np.mean(np.abs(
                (mid * 131 + 17 * np.arange(n)) % 2003 - 1001)))
            assert (r.kind, r.n_samples, r.duration_ms) == ("audio", n, n)
            assert abs(r.mean_value - round(exp, 6)) < 1e-9


def test_decode_wav_stereo_duration(spark):
    """Stereo PCM-16: decode_wav reports n_channels=2 and the metadata
    path reports duration over FRAMES, not interleaved samples — 8000
    frames at 8 kHz is 1000 ms regardless of channel count."""
    import struct
    import numpy as np
    frames, rate = 8000, 8000
    data = np.arange(frames * 2, dtype="<i2").tobytes()   # interleaved L/R
    fmt = struct.pack("<HHIIHH", 1, 2, rate, rate * 4, 4, 16)
    wav = (b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
           + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
           + b"data" + struct.pack("<I", len(data)) + data)
    got_rate, samples, n_ch = multimodal.decode_wav(wav)
    assert (got_rate, n_ch, samples.size) == (rate, 2, frames * 2)
    df = spark.createDataFrame([(1, "audio", bytearray(wav))],
                               "media_id long, kind string, payload binary")
    r = multimodal.extract_media_metadata(df).collect()[0]
    assert (r.n_samples, r.duration_ms) == (frames, 1000)


def test_pii_stats_and_redact(spark):
    rows = [
        (1, "mail me at bob.smith+x@corp.example.org today"),
        (2, "see https://a.example.com/path?q=1 and http://b.org"),
        (3, "server at 192.168.1.254 and 10.0.0.1 responded"),
        (4, "no sensitive content here at all"),
        (5, "combo x@y.io via http://z.dev from 8.8.8.8"),
        (6, "call (303) 555-1234 or 303.555.9876 or 303 555 4321"),
        (7, "card 4111-1111-1111-1111 or 4111 1111 1111 1234 "
            "or 4111111111111111 but not 41-11-11-11"),
        (8, "order #12345678901234567890 is not a card"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in
           textops.pii_redact(textops.pii_stats(df)).collect()}
    assert (out[1].n_emails, out[1].n_urls, out[1].n_ipv4) == (1, 0, 0)
    assert (out[2].n_emails, out[2].n_urls, out[2].n_ipv4) == (0, 2, 0)
    assert (out[3].n_emails, out[3].n_urls, out[3].n_ipv4) == (0, 0, 2)
    assert (out[4].n_emails, out[4].n_urls, out[4].n_ipv4) == (0, 0, 0)
    assert (out[5].n_emails, out[5].n_urls, out[5].n_ipv4) == (1, 1, 1)
    assert (out[6].n_phones, out[6].n_ccards) == (3, 0)
    assert (out[7].n_phones, out[7].n_ccards) == (0, 3)
    assert (out[8].n_phones, out[8].n_ccards) == (0, 0)
    assert out[1].redacted == "mail me at <PII> today"
    assert out[5].redacted == "combo <PII> via <PII> from <PII>"
    assert out[6].redacted == "call <PII> or <PII> or <PII>"
    assert out[4].redacted == out[4].text
    assert out[8].redacted == out[8].text


def test_dedup_embeddings_removes_planted_dups(spark, emb):
    """The one-call embedding dedup removes exact planted duplicates
    (identical vectors always share every LSH bucket) and keeps the
    minimum id of each cluster; survivors match the crossJoin-verified
    component computation exactly."""
    base = emb.orderBy("vec_id").limit(120).select("vec_id", "embedding")
    planted = base.select((F.col("vec_id") + 5000).alias("vec_id"),
                          "embedding").limit(40)
    both = base.unionByName(planted)
    kept = {r.vec_id for r in
            dedup.dedup_embeddings(both, threshold=0.99, dim=64).collect()}
    # exact reference: all-pairs cosine >= threshold -> components
    pairs = dedup.embedding_near_dups(both, threshold=0.99)
    cc = dedup.connected_components(pairs.select("a", "b"))
    drop = {r.doc_id for r in
            cc.filter(F.col("doc_id") != F.col("component")).collect()}
    expect = {r.vec_id for r in both.collect()} - drop
    assert kept == expect
    assert len(kept) == 120  # every planted dup collapsed to its original


def test_dedup_embeddings_empty_input(spark):
    from pyspark.sql.types import (ArrayType, FloatType, LongType,
                                   StructField, StructType)
    empty = spark.createDataFrame([], StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType()))]))
    assert dedup.dedup_embeddings(empty).count() == 0


def test_media_metadata_unsupported_kind_raises(spark):
    """video / codec-format payloads surface the documented
    NotImplementedError, not a wrong-parser ValueError."""
    rows = [(1, "video", "video/mp4", bytearray(b"\x00\x00\x00 ftypmp42"))]
    df = spark.createDataFrame(
        rows, "media_id long, kind string, mime string, payload binary")
    with pytest.raises(Exception, match="NotImplementedError|codec"):
        multimodal.extract_media_metadata(df).collect()
    png = [(2, "image", "image/png", bytearray(b"\x89PNG\r\n\x1a\nxxxx"))]
    df2 = spark.createDataFrame(
        png, "media_id long, kind string, mime string, payload binary")
    with pytest.raises(Exception, match="NotImplementedError|codec"):
        multimodal.extract_media_metadata(df2).collect()


def test_decontaminate(spark):
    """13-gram benchmark decontamination: docs sharing a long n-gram with
    the benchmark drop; unrelated docs survive; flag/remove agree."""
    long_a = " ".join(f"w{i}" for i in range(30))
    long_b = " ".join(f"x{i}" for i in range(30))
    partial = " ".join(f"w{i}" for i in range(5, 25))   # shares 13-grams
    short_unique = "tiny doc"
    rows = [(1, long_a), (2, long_b), (3, partial), (4, short_unique),
            (5, "another clean unrelated document with plenty of fresh "
                "words " + " ".join(f"z{i}" for i in range(20)))]
    corpus = spark.createDataFrame(rows, ["doc_id", "text"])
    bench = spark.createDataFrame([(long_a,), ("tiny doc",)], ["text"])
    kept = {r.doc_id for r in
            dedup.decontaminate(corpus, bench, n=13).collect()}
    assert kept == {2, 5}   # 1 exact, 3 via shared 13-gram, 4 short-exact
    flags = {r.doc_id: r.contaminated for r in
             dedup.decontaminate(corpus, bench, n=13,
                                 mode="flag").collect()}
    assert flags == {1: True, 2: False, 3: True, 4: True, 5: False}
    with pytest.raises(ValueError):
        dedup.decontaminate(corpus, bench, mode="nope")


def test_bad_mode_raises_before_any_spark_job(spark, tmp_path, emb):
    """decontaminate, decontaminate_fuzzy, dedup_against_index,
    remove_repeated_spans and the two index writers check ``mode``
    before their first Spark job, and every entry point taking
    ``hash_family`` checks it (the index writer its ``bands`` too) the
    same way: a bad value runs no job, pins no block and leaves an
    existing index's sidecar as it was."""
    base = " ".join(f"w{i}" for i in range(30))
    corpus = spark.createDataFrame([(1, base), (2, base + " x")],
                                   ["doc_id", "text"])
    bench = spark.createDataFrame([(100, base)], ["doc_id", "text"])
    path = str(tmp_path / "ix")
    dedup.write_dedup_index(corpus, path)
    ann_path = str(tmp_path / "ann_ix")
    vecs = emb.limit(40)
    simsearch.write_ann_index(vecs, ann_path, n_cells=4, refine_iters=0)
    metas = {"dedup": dedup.read_dedup_index_meta(spark, path),
             "ann": simsearch.read_ann_index_meta(spark, ann_path)}
    sc = spark.sparkContext
    mode, fam = "unknown mode", "unknown hash_family"
    calls = {
        "decontaminate": (mode, lambda: dedup.decontaminate(
            corpus, bench, mode="nope")),
        "decontaminate_fuzzy": (mode, lambda: dedup.decontaminate_fuzzy(
            corpus, bench, mode="nope")),
        "dedup_against_index": (mode, lambda: dedup.dedup_against_index(
            corpus, path, mode="bogus")),
        "remove_repeated_spans": ("trim/drop/flag", lambda:
                                  textops.remove_repeated_spans(
                                      corpus, mode="bogus")),
        "write_dedup_index": (mode, lambda: dedup.write_dedup_index(
            corpus, path, bands=8, mode="ignore")),
        "write_ann_index": (mode, lambda: simsearch.write_ann_index(
            vecs, ann_path, n_cells=2, refine_iters=0, mode="ignore")),
        "write_dedup_index bands": ("must evenly divide", lambda:
                                    dedup.write_dedup_index(
                                        corpus, path, bands=7)),
        "write_dedup_index family": (fam, lambda: dedup.write_dedup_index(
            corpus, path, hash_family="nope")),
        "minhash_signatures": (fam, lambda: dedup.minhash_signatures(
            corpus, hash_family="nope")),
        "minhash_lsh_candidates": (fam, lambda:
                                   dedup.minhash_lsh_candidates(
                                       corpus, hash_family="nope")),
        "simhash_near_dups": (fam, lambda: dedup.simhash_near_dups(
            corpus, hash_family="nope")),
        "dedup_corpus": (fam, lambda: dedup.dedup_corpus(
            corpus, hash_family="nope")),
        "decontaminate_fuzzy family": (fam, lambda:
                                       dedup.decontaminate_fuzzy(
                                           corpus, bench,
                                           hash_family="nope")),
        "winnow_fingerprints": (fam, lambda: textops.winnow_fingerprints(
            corpus, hash_family="nope")),
        "stratified_sample": (fam, lambda: textops.stratified_sample(
            corpus, {"a": 1.0}, key_col="text", hash_family="nope")),
        "sample_to_token_budget": (fam, lambda:
                                   textops.sample_to_token_budget(
                                       corpus, {"a": 1.0}, key_col="text",
                                       hash_family="nope"))}
    for name, (pattern, call) in calls.items():
        group = f"bad-arg-{name.replace(' ', '-')}"
        cached = _n_cached_rdds(spark)
        sc.setJobGroup(group, group)
        try:
            with pytest.raises(ValueError, match=pattern):
                call()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert sc.statusTracker().getJobIdsForGroup(group) == [], name
        assert _n_cached_rdds(spark) == cached, name
    assert metas == {"dedup": dedup.read_dedup_index_meta(spark, path),
                     "ann": simsearch.read_ann_index_meta(spark, ann_path)}


def test_decontaminate_broadcast_guard(spark, monkeypatch,
                                      no_auto_broadcast):
    """At the default cap the benchmark gram-hash set is EXPLICITLY
    broadcast (plan shows BroadcastHashJoin LeftSemi — never a sort-merge
    join shuffling the corpus shingles); with the cap patched to 0 the
    semi-join shuffles and returns identical rows."""
    long_a = " ".join(f"w{i}" for i in range(30))
    rows = [(1, long_a),
            (2, " ".join(f"x{i}" for i in range(30)))]
    corpus = spark.createDataFrame(rows, ["doc_id", "text"])
    bench = spark.createDataFrame([(long_a,)], ["text"])
    flagged = dedup.decontaminate(corpus, bench, n=13, mode="flag")
    semi = [ln for ln in _plan(flagged).splitlines() if "LeftSemi" in ln]
    assert semi and all("BroadcastHashJoin" in ln for ln in semi), \
        _plan(flagged)
    monkeypatch.setattr(dedup, "_DECONTAM_BROADCAST_ROWS", 0)
    shuffled = dedup.decontaminate(corpus, bench, n=13, mode="flag")
    s_semi = [ln for ln in _plan(shuffled).splitlines() if "LeftSemi" in ln]
    assert s_semi and not any("BroadcastHashJoin" in ln
                              for ln in s_semi), _plan(shuffled)
    assert sorted(map(tuple, flagged.collect())) == \
        sorted(map(tuple, shuffled.collect()))


def test_stratified_sample_deterministic(spark, docs):
    """Hash-threshold sampling: exact-fraction edges (0 and 1) hold, the
    kept set is invariant under repartitioning (unlike df.sample), and
    both hash families give plausible stratum rates."""
    d = docs.select("doc_id", "source")
    fr = {"src0": 1.0, "src1": 0.0}
    kept = textops.stratified_sample(d, fr, default_fraction=0.5)
    rows = kept.collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, set()).add(r.doc_id)
    n_src0 = d.filter(F.col("source") == "src0").count()
    assert len(by_src.get("src0", ())) == n_src0        # frac 1.0 keeps all
    assert "src1" not in by_src                          # frac 0.0 drops all
    total_default = d.filter(~F.col("source").isin(["src0", "src1"])).count()
    n_default = sum(len(v) for s, v in by_src.items()
                    if s not in ("src0", "src1"))
    assert 0.25 * total_default < n_default < 0.75 * total_default
    again = {(r.doc_id, r.source) for r in textops.stratified_sample(
        d.repartition(7), fr, default_fraction=0.5).collect()}
    assert again == {(r.doc_id, r.source) for r in rows}
    md5_kept = textops.stratified_sample(
        d, fr, default_fraction=0.5, hash_family="md5").collect()
    assert {r.source for r in md5_kept} <= set(
        x.source for x in d.collect()) - {"src1"}


# ---------------------------------------------------------------------------
# tfidf_top_terms / repeated_ngrams (round 4)
# ---------------------------------------------------------------------------

def test_tfidf_top_terms_exact(spark):
    import math
    from versa_spark.textops import tfidf_top_terms
    docs = spark.createDataFrame(
        [(0, "apple apple banana"), (1, "banana cherry"), (2, "cherry")],
        ["doc_id", "text"])
    out = [(r.doc_id, r.term, r.tf, r.tfidf, r.rk)
           for r in tfidf_top_terms(docs, k=2).collect()]
    by_doc = {}
    for row in out:
        by_doc.setdefault(row[0], []).append(row)
    # doc 0: apple tf=2 df=1 → 2·ln(3); banana tf=1 df=2 → ln(1.5)
    d0 = sorted(by_doc[0], key=lambda r: r[4])
    assert d0[0][1] == "apple" and d0[0][3] == round(2 * math.log(3), 4)
    assert d0[1][1] == "banana" and d0[1][3] == round(math.log(1.5), 4)
    # doc 2: single term, df=2
    assert by_doc[2] == [(2, "cherry", 1, round(math.log(1.5), 4), 1)]


def test_tfidf_tie_breaks_by_term(spark):
    from versa_spark.textops import tfidf_top_terms
    docs = spark.createDataFrame([(0, "zeta alpha"), (1, "other words")],
                                 ["doc_id", "text"])
    # both terms in doc 0 have tf=1, df=1 → identical score; term asc wins
    d0 = sorted(((r.term, r.rk) for r in
                 tfidf_top_terms(docs, k=2).collect()
                 if r.doc_id == 0), key=lambda t: t[1])
    assert d0 == [("alpha", 1), ("zeta", 2)]


def test_repeated_ngrams_exact(spark):
    from versa_spark.textops import repeated_ngrams
    docs = spark.createDataFrame(
        [(0, "the quick brown fox jumps"),
         (1, "THE  Quick brown fox jumps extra"),   # normalizes equal
         (2, "the quick brown fox jumps"),
         (3, "completely different words here now")],
        ["doc_id", "text"])
    out = {r.gram: (r.n_docs, r.n_occurrences)
           for r in repeated_ngrams(docs, n=5, min_docs=2).collect()}
    assert out["the quick brown fox jumps"] == (3, 3)
    # doc 3's unique gram filtered; doc 1's shifted gram unique too
    assert "completely different words here now" not in out
    assert "quick brown fox jumps extra" not in out


def test_repeated_ngrams_short_docs_excluded(spark):
    from versa_spark.textops import repeated_ngrams
    docs = spark.createDataFrame([(0, "too short"), (1, "too short")],
                                 ["doc_id", "text"])
    assert repeated_ngrams(docs, n=5, min_docs=2).count() == 0


def test_bpe_token_counts_hand_computed(spark):
    """Exact BPE with a known merge list: 'abc' fully merges (2 merges),
    'ab' takes the first merge, 'xyz' has no applicable merge (3
    chars)."""
    from versa_spark.textops import bpe_token_counts
    df = spark.createDataFrame([(1, "abc ab xyz"), (2, None), (3, "  ")],
                               ["doc_id", "text"])
    merges = [("a", "b"), ("ab", "c")]
    out = {r.doc_id: r.bpe_exact_tokens for r in
           bpe_token_counts(df, merges).collect()}
    assert out == {1: 1 + 1 + 3, 2: 0, 3: 0}


def test_bpe_train_and_full_merge_parity_with_ws(spark):
    """Trained on the fixture with enough merges, every sampled word
    collapses to ONE token, so exact-BPE counts equal the whitespace
    heuristic — the opt-in path and the heuristic agree exactly where
    they should.  Also wires the exact counts into
    sample_to_token_budget via tokens_col."""
    from versa_spark import textops
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .orderBy("doc_id").limit(40).select("doc_id", "source", "text"))
    merges = textops.bpe_train_merges(docs, n_merges=5000, sample_docs=40)
    assert merges and all(isinstance(m, tuple) and len(m) == 2
                          for m in merges)
    # determinism: training twice gives the identical ranked list
    assert merges == textops.bpe_train_merges(docs, n_merges=5000,
                                              sample_docs=40)
    got = textops.bpe_token_counts(docs, merges)
    ws = textops.token_counts(docs)
    a = {r.doc_id: r.bpe_exact_tokens for r in got.collect()}
    b = {r.doc_id: r.ws_tokens for r in ws.collect()}
    assert a == b
    # exact budgets through the mixing operator: with full-merge counts,
    # fractions match the ws-count fractions exactly
    via_bpe = textops.sample_to_token_budget(
        got, {"src0": 300.0}, default_budget=200.0,
        tokens_col="bpe_exact_tokens", seed=7, hash_family="md5")
    via_ws = textops.sample_to_token_budget(
        docs, {"src0": 300.0}, default_budget=200.0, seed=7,
        hash_family="md5")
    assert ({(r.doc_id, round(r._frac, 9)) for r in via_bpe.collect()}
            == {(r.doc_id, round(r._frac, 9)) for r in via_ws.collect()})


def test_bpe_partial_merges_count_between_chars_and_words(spark):
    """With a TRUNCATED merge list the count sits strictly between the
    word count (full merges) and the character count (no merges) on
    text the merges only partially cover."""
    from versa_spark.textops import bpe_token_counts
    txt = "banana bandana"
    df = spark.createDataFrame([(1, txt)], ["doc_id", "text"])
    merges = [("a", "n"), ("b", "an")]   # banana -> [ban, an, a] = 3
    r = bpe_token_counts(df, merges).first()
    # banana: b,a,n,a,n,a -> an merges -> b,an,an,a -> ban,an,a = 3
    # bandana: b,a,n,d,a,n,a -> b,an,d,an,a -> ban,d,an,a = 4
    assert r.bpe_exact_tokens == 7
    n_words, n_chars = 2, len(txt.replace(" ", ""))
    assert n_words < r.bpe_exact_tokens < n_chars


def test_remove_repeated_spans_trim(spark):
    """Exact-substring removal (Lee et al. 2022, removal half):
    overlapping hot n-gram windows merge into maximal spans; untouched
    documents pass through byte-identical; a fully-boilerplate doc trims
    to '' rather than disappearing."""
    from versa_spark.textops import remove_repeated_spans
    bp = "this license header is repeated verbatim across documents"  # 8w
    raw3 = "Wholly  UNIQUE document three with NO boilerplate at all"
    docs = spark.createDataFrame(
        [(1, f"{bp} unique alpha text one"),
         (2, f"unique beta text two {bp}"),
         (3, raw3),
         (4, bp),
         (5, f"start {bp} middle words {bp} end")],
        ["doc_id", "text"])
    out = {r.doc_id: r for r in
           remove_repeated_spans(docs, n=5, min_docs=2).collect()}
    assert out[1].text == "unique alpha text one"
    assert out[2].text == "unique beta text two"
    # untouched rows keep the ORIGINAL text (no normalization applied)
    assert out[3].text == raw3 and out[3].n_tokens_removed == 0
    assert out[4].text == "" and out[4].n_tokens_removed == 8
    # two disjoint spans: 16 tokens removed, counted as 2 spans
    assert out[5].text == "start middle words end"
    assert (out[5].n_tokens_removed, out[5].n_spans) == (16, 2)
    assert {d: r.n_spans for d, r in out.items()} == {
        1: 1, 2: 1, 3: 0, 4: 1, 5: 2}


def test_remove_repeated_spans_drop_flag_and_modes(spark):
    from versa_spark.textops import remove_repeated_spans
    import pytest as _pytest
    bp = "one two three four five six"
    docs = spark.createDataFrame(
        [(1, f"{bp} tail a"), (2, f"{bp} tail b"), (3, "clean doc here")],
        ["doc_id", "text"])
    assert {r.doc_id for r in remove_repeated_spans(
        docs, n=5, min_docs=2, mode="drop").collect()} == {3}
    flags = {r.doc_id: r.has_repeated_span for r in remove_repeated_spans(
        docs, n=5, min_docs=2, mode="flag").collect()}
    assert flags == {1: True, 2: True, 3: False}
    with _pytest.raises(ValueError, match="trim/drop/flag"):
        remove_repeated_spans(docs, mode="bogus")


def test_remove_repeated_spans_precomputed_hot_and_shuffle_path(
        spark, monkeypatch, no_auto_broadcast):
    """A precomputed hot_grams frame (cross-batch boilerplate table)
    skips discovery; the hot-gram join is broadcast at the default cap
    and shuffles with the cap patched to 0, with identical results."""
    docs = spark.createDataFrame(
        [(1, "keep me aaa bbb ccc ddd eee done"),
         (2, "totally unrelated text in this row")],
        ["doc_id", "text"])
    hot = spark.createDataFrame([("aaa bbb ccc ddd eee",)], ["gram"])
    plans = []
    for cap in (textops._HOT_GRAM_BROADCAST_ROWS, 0):
        monkeypatch.setattr(textops, "_HOT_GRAM_BROADCAST_ROWS", cap)
        out = textops.remove_repeated_spans(docs, n=5, hot_grams=hot)
        got = {r.doc_id: r.text for r in out.collect()}
        assert got == {1: "keep me done",
                       2: "totally unrelated text in this row"}
        plans.append(_plan(out))
    assert "BroadcastHashJoin" in plans[0], plans[0]
    assert "BroadcastHashJoin" not in plans[1], plans[1]


# ---------------------------------------------------------------------------
# multimodal resize / resample (round 4): REAL payload round trips
# ---------------------------------------------------------------------------

def test_resize_images_payload_roundtrip(spark):
    import numpy as np
    from versa_spark import multimodal as mm
    # 4x2 gradient image; nearest (floor) to 2x2 picks (y*2//2*... )
    px = np.arange(8, dtype=np.uint8).reshape(2, 4)  # h=2, w=4
    media = spark.createDataFrame(
        [(1, "image", mm.encode_pgm(4, 2, px.ravel()))],
        "media_id long, kind string, payload binary")
    out = mm.resize_images(media, new_w=2, new_h=2).collect()[0]
    assert (out.width, out.height) == (2, 2)
    w2, h2, arr = mm.decode_pgm_ppm(bytes(out.payload))
    # ys = [0,1], xs = [0,2] → pixels [[0,2],[4,6]]
    assert arr.tolist() == [[0, 2], [4, 6]]
    assert out.mean_value == 3.0


def test_resize_images_ppm_color(spark):
    import numpy as np
    from versa_spark import multimodal as mm
    rgb = np.arange(2 * 2 * 3, dtype=np.uint8)  # 2x2 color
    media = spark.createDataFrame(
        [(1, "image", mm.encode_ppm(2, 2, rgb))],
        "media_id long, kind string, payload binary")
    out = mm.resize_images(media, new_w=1, new_h=1).collect()[0]
    _, _, arr = mm.decode_pgm_ppm(bytes(out.payload))
    assert arr.tolist() == [[[0, 1, 2]]]   # top-left pixel survives


def test_resample_audio_payload_roundtrip(spark):
    from versa_spark import multimodal as mm
    samples = [0, 100, -200, 300, -400, 500, -600]
    media = spark.createDataFrame(
        [(1, "audio", mm.encode_wav(samples, sample_rate=1000))],
        "media_id long, kind string, payload binary")
    out = mm.resample_audio(media, factor=2).collect()[0]
    assert out.n_samples == 4 and out.sample_rate == 500
    rate, dec, n_ch = mm.decode_wav(bytes(out.payload))
    assert rate == 500 and n_ch == 1
    assert dec.tolist() == [0, -200, -400, -600]
    assert out.mean_abs == round((0 + 200 + 400 + 600) / 4, 6)


def test_minhash_bands_must_divide_num_hashes(spark):
    import pytest
    from versa_spark import dedup
    docs = spark.createDataFrame([(1, "a b c d e")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="evenly divide"):
        dedup.minhash_lsh_candidates(docs, bands=128, num_hashes=64)
    with pytest.raises(ValueError, match="evenly divide"):
        dedup.minhash_lsh_candidates(docs, bands=48, num_hashes=64)


def test_simhash_banding_adapts_to_radius(spark):
    """The band count is max_hamming+1, so the pigeonhole recall
    guarantee holds for ANY radius (a fixed 4-band split silently
    missed pairs beyond Hamming 3)."""
    from versa_spark import dedup
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta")],
        ["doc_id", "text"])
    # identical docs: one 64-bit band, exact-signature bucket — found
    out0 = dedup.simhash_near_dups(docs, max_hamming=0).collect()
    assert [(r.a, r.b, r.hamming) for r in out0] == [(1, 2, 0)]
    # different docs at radius 0: no pair
    docs2 = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "epsilon zeta eta theta")],
        ["doc_id", "text"])
    assert dedup.simhash_near_dups(docs2, max_hamming=0).count() == 0


def test_ivf_assign_empty_centroids_raises(spark):
    import pytest
    from versa_spark import simsearch
    emb = spark.createDataFrame([(1, [0.1, 0.2])], ["vec_id", "v"])
    with pytest.raises(ValueError, match="at least one centroid"):
        simsearch.ivf_assign(emb, [])
    with pytest.raises(ValueError, match="at least one centroid"):
        simsearch.probe_cells(emb, [], 2, "v")


def test_quality_mean_word_len_ignores_whitespace_padding(spark):
    from versa_spark.textops import quality_score
    df = spark.createDataFrame(
        [(0, "hi there"), (1, "  hi    there  \n")], ["doc_id", "text"])
    out = {r.doc_id: r.mean_word_len
           for r in quality_score(df).collect()}
    assert out[0] == out[1] == 3.5   # (8 - 2 + 1) / 2 on collapsed text


def test_decontaminate_fuzzy(spark):
    """Cross-corpus near-dup decontamination: an exact copy and a
    lightly-edited copy of benchmark docs are flagged; a low-overlap doc
    and an unrelated doc survive; remove/flag/pairs agree; both hash
    families produce the identical verified pair set."""
    base = " ".join(f"w{i}" for i in range(30))
    edited = base + " extra"                       # J = 28/29 ≈ 0.9655
    low = " ".join(f"w{i}" for i in range(15)) + " " + \
        " ".join(f"q{i}" for i in range(15))       # J ≈ 0.30 < 0.8
    other = " ".join(f"z{i}" for i in range(30))
    corpus = spark.createDataFrame(
        [(1, base), (2, edited), (3, low), (4, other)],
        ["doc_id", "text"])
    bench = spark.createDataFrame([(100, base)], ["doc_id", "text"])
    kept = {r.doc_id for r in
            dedup.decontaminate_fuzzy(corpus, bench).collect()}
    assert kept == {3, 4}
    flags = {r.doc_id: r.contaminated for r in
             dedup.decontaminate_fuzzy(corpus, bench,
                                       mode="flag").collect()}
    assert flags == {1: True, 2: True, 3: False, 4: False}
    pairs = {(r.corpus_id, r.bench_id): r.jaccard for r in
             dedup.decontaminate_fuzzy(corpus, bench,
                                       mode="pairs").collect()}
    assert set(pairs) == {(1, 100), (2, 100)}
    assert pairs[(1, 100)] == 1.0
    assert abs(pairs[(2, 100)] - 28 / 29) < 1e-6
    md5_pairs = {(r.corpus_id, r.bench_id): r.jaccard for r in
                 dedup.decontaminate_fuzzy(corpus, bench, mode="pairs",
                                           hash_family="md5").collect()}
    assert md5_pairs == pairs
    with pytest.raises(ValueError):
        dedup.decontaminate_fuzzy(corpus, bench, mode="nope")
    with pytest.raises(ValueError):
        dedup.decontaminate_fuzzy(corpus, bench, bands=7)


def _banded_join_ops(spark, call):
    """Run ``call()`` (an eager operator: its discovery join runs inside
    the call) and return its result plus the operator name of every
    executed join keyed on (band, bucket), read from the SQL status
    store (initial and final AQE plans both listed)."""
    import re
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    execs = store.executionsList()   # ascending execution id
    last = execs.last().executionId() if execs.size() else -1
    out = call()
    bus.waitUntilEmpty()
    execs = store.executionsList()
    ops = []
    i = execs.size() - 1
    while i >= 0 and execs.apply(i).executionId() > last:
        for sec in execs.apply(i).physicalPlanDescription().split("\n\n"):
            head = re.match(r"\(\d+\) (\w+)", sec.strip())
            if head and re.search(
                    r"Left keys \[2\]: \[band#\d+L?, bucket#", sec):
                ops.append(head.group(1))
        i -= 1
    return out, ops


def test_decontaminate_fuzzy_broadcast_guard(spark, monkeypatch,
                                            no_auto_broadcast):
    """At the default cap the benchmark banded table is EXPLICITLY
    broadcast into the discovery join (never a sort-merge join shuffling
    the corpus banding stream); with the cap patched to 0 the discovery
    join shuffles and returns identical rows."""
    base = " ".join(f"w{i}" for i in range(30))
    other = " ".join(f"x{i}" for i in range(30))
    corpus = spark.createDataFrame([(1, base), (2, other)],
                                   ["doc_id", "text"])
    bench = spark.createDataFrame([(100, base)], ["doc_id", "text"])
    rows, ops = [], []
    for cap in (dedup._BANDED_BROADCAST_ROWS, 0):
        monkeypatch.setattr(dedup, "_BANDED_BROADCAST_ROWS", cap)
        out, o = _banded_join_ops(spark, lambda: dedup.decontaminate_fuzzy(
            corpus, bench, mode="flag"))
        rows.append(sorted(map(tuple, out.collect())))
        ops.append(set(o))
    assert rows[0] == rows[1] == [(1, base, True), (2, other, False)]
    assert ops == [{"BroadcastHashJoin"}, {"SortMergeJoin"}], ops


def test_dedup_against_index_broadcast_guard(spark, tmp_path, monkeypatch,
                                             no_auto_broadcast):
    """At the default cap the batch's banded rows are broadcast into the
    scan of the stored banded/ table; with the cap patched to 0 that
    join shuffles.  Both give the same pairs, and each call leaves at
    most its eager pair checkpoint pinned."""
    base = " ".join(f"w{i}" for i in range(30))
    corpus = spark.createDataFrame(
        [(1, base), (2, " ".join(f"x{i}" for i in range(30)))],
        ["doc_id", "text"])
    path = str(tmp_path / "ix")
    dedup.write_dedup_index(corpus, path)
    batch = spark.createDataFrame(
        [(10, base + " extra"), (11, " ".join(f"q{i}" for i in range(30)))],
        ["doc_id", "text"])
    rows, ops = [], []
    for cap in (dedup._BANDED_BROADCAST_ROWS, 0):
        monkeypatch.setattr(dedup, "_BANDED_BROADCAST_ROWS", cap)
        cached = _n_cached_rdds(spark)
        out, o = _banded_join_ops(spark, lambda: dedup.dedup_against_index(
            batch, path, mode="pairs"))
        rows.append(sorted(map(tuple, out.collect())))
        ops.append(set(o))
        # only the eager pair checkpoint stays pinned
        assert _n_cached_rdds(spark) - cached <= 1
    assert rows[0] == rows[1] == [(10, 1, round(28 / 29, 6))]
    assert ops == [{"BroadcastHashJoin"}, {"SortMergeJoin"}], ops


def test_sample_to_token_budget(spark):
    """Per-source token-budget downsampling: budgets at/above a source's
    total keep it whole, smaller budgets keep a deterministic id-hash
    subset with the right fraction, unlisted sources drop (or take the
    default budget), and a precomputed tokens_col matches in-plan
    counting."""
    rows = [(i, "a", " ".join(["w"] * 10)) for i in range(40)] + \
           [(100 + i, "b", " ".join(["x"] * 20)) for i in range(10)] + \
           [(200 + i, "c", "y z") for i in range(5)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    # totals: a=400, b=200, c=10
    out = textops.sample_to_token_budget(
        df, {"a": 200.0, "b": 1000.0}, seed=7)
    got = out.collect()
    fracs = {r.source: r._frac for r in got}
    assert fracs["a"] == 0.5 and fracs["b"] == 1.0
    assert {r.source for r in got} == {"a", "b"}          # c dropped
    n_b = sum(1 for r in got if r.source == "b")
    assert n_b == 10                                      # kept whole
    n_a = sum(1 for r in got if r.source == "a")
    assert 0 < n_a < 40                                   # downsampled
    # deterministic: identical on re-run and independent of layout
    again = textops.sample_to_token_budget(
        df.repartition(7), {"a": 200.0, "b": 1000.0}, seed=7).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))
    # default budget picks up unlisted sources
    with_default = textops.sample_to_token_budget(
        df, {"a": 200.0}, default_budget=1e9, seed=7)
    assert {r.source for r in with_default.collect()} == {"a", "b", "c"}
    # precomputed tokens_col path agrees with in-plan counting
    pre = textops.token_counts(df).withColumnRenamed("ws_tokens", "nt")
    via_col = textops.sample_to_token_budget(
        pre.select("doc_id", "source", "text", "nt"),
        {"a": 200.0, "b": 1000.0}, tokens_col="nt", seed=7)
    assert sorted((r.doc_id, r.source) for r in via_col.collect()) == \
        sorted((r.doc_id, r.source) for r in got)
    # md5 family runs and keeps the same fractions
    md5_out = textops.sample_to_token_budget(
        df, {"a": 200.0, "b": 1000.0}, seed=7, hash_family="md5")
    assert {r.source: r._frac for r in md5_out.collect()} == fracs
    with pytest.raises(ValueError):
        textops.sample_to_token_budget(df, {"a": 1.0},
                                       hash_family="nope").collect()


def test_dedup_index_roundtrip(tmp_path, spark):
    """Persistent LSH index: a batch deduped against a stored index
    finds exactly the pairs the two-sided fuzzy path finds on the same
    parameters (hashed-shingle verify == raw-shingle verify), modes
    agree, and append extends the index."""
    base = " ".join(f"w{i}" for i in range(30))
    other = " ".join(f"z{i}" for i in range(30))
    corpus = spark.createDataFrame(
        [(1, base), (2, other)], ["doc_id", "text"])
    path = str(tmp_path / "lsh_index")
    dedup.write_dedup_index(corpus, path)
    assert dedup.read_dedup_index_meta(spark, path) == {
        "k": 3, "num_hashes": 64, "bands": 16, "hash_family": "xxhash64",
        "format": 2}

    batch = spark.createDataFrame(
        [(10, base + " extra"),              # near-dup of indexed 1
         (11, " ".join(f"q{i}" for i in range(30)))],   # fresh
        ["doc_id", "text"])
    pairs = {(r.batch_id, r.index_id): r.jaccard for r in
             dedup.dedup_against_index(batch, path,
                                       mode="pairs").collect()}
    ref = {(r.corpus_id, r.bench_id): r.jaccard for r in
           dedup.decontaminate_fuzzy(batch, corpus,
                                     mode="pairs").collect()}
    assert pairs == ref == {(10, 1): pairs[(10, 1)]}
    assert abs(pairs[(10, 1)] - 28 / 29) < 1e-6
    kept = {r.doc_id for r in
            dedup.dedup_against_index(batch, path).collect()}
    assert kept == {11}
    flags = {r.doc_id: r.is_dup for r in
             dedup.dedup_against_index(batch, path,
                                       mode="flag").collect()}
    assert flags == {10: True, 11: False}

    # append the fresh batch doc; a later near-dup of it now matches
    dedup.write_dedup_index(
        batch.filter(F.col("doc_id") == 11), path, mode="append")
    batch2 = spark.createDataFrame(
        [(20, " ".join(f"q{i}" for i in range(30)) + " tail")],
        ["doc_id", "text"])
    p2 = {(r.batch_id, r.index_id) for r in
          dedup.dedup_against_index(batch2, path, mode="pairs").collect()}
    assert p2 == {(20, 11)}

    # appending with different parameters must refuse
    with pytest.raises(ValueError, match="would corrupt"):
        dedup.write_dedup_index(batch2, path, bands=8, mode="append")
    # no sidecar -> explicit error
    with pytest.raises(ValueError, match="no LSH index"):
        dedup.dedup_against_index(batch2, str(tmp_path / "nope"))
    with pytest.raises(ValueError):
        dedup.dedup_against_index(batch2, path, mode="bogus")


def test_dedup_index_md5_family(tmp_path, spark):
    """The md5 (SQL-reproducible) family round-trips through the stored
    index with the identical verified pair set as xxhash64."""
    base = " ".join(f"w{i}" for i in range(30))
    corpus = spark.createDataFrame([(1, base)], ["doc_id", "text"])
    batch = spark.createDataFrame([(10, base + " x")], ["doc_id", "text"])
    p1 = str(tmp_path / "ix_md5")
    dedup.write_dedup_index(corpus, p1, hash_family="md5")
    got = [(r.batch_id, r.index_id, r.jaccard) for r in
           dedup.dedup_against_index(batch, p1, mode="pairs").collect()]
    assert got == [(10, 1, round(28 / 29, 6))]


def test_dedup_index_append_refuses_interrupted_state(tmp_path, spark):
    """An interrupted append leaves index tables WITHOUT a sidecar
    (append deletes it first).  Re-running the append — the natural
    recovery — must refuse that state: blindly appending would stack
    the retry's rows on top of the partial attempt's and corrupt
    n_sh/n_inter under a re-legitimized sidecar.  Sidecar-less append
    onto an EMPTY path stays allowed (degrades to a fresh build)."""
    import os
    base = " ".join(f"w{i}" for i in range(30))
    corpus = spark.createDataFrame([(1, base)], ["doc_id", "text"])
    path = str(tmp_path / "ix")
    dedup.write_dedup_index(corpus, path)
    # simulate the interrupted-append state: tables present, no sidecar
    os.remove(os.path.join(path, "_versa_lsh_index.json"))
    with pytest.raises(ValueError, match="sidecar is missing"):
        dedup.write_dedup_index(corpus, path, mode="append")
    # append onto an empty path = fresh build, then matching works
    p2 = str(tmp_path / "fresh")
    dedup.write_dedup_index(corpus, p2, mode="append")
    got = {(r.batch_id, r.index_id) for r in dedup.dedup_against_index(
        spark.createDataFrame([(10, base + " x")], ["doc_id", "text"]),
        p2, mode="pairs").collect()}
    assert got == {(10, 1)}


def test_dedup_index_empty_corpus_build(tmp_path, spark):
    """A fresh build over an EMPTY corpus must not throw
    UNABLE_TO_INFER_SCHEMA on the sizes re-read (the writer's schema is
    pinned) — initializing an empty index then appending batches is the
    natural ingestion bootstrap."""
    empty = spark.createDataFrame([], "doc_id long, text string")
    path = str(tmp_path / "ix_empty")
    dedup.write_dedup_index(empty, path)
    assert dedup.read_dedup_index_meta(spark, path)["bands"] == 16
    base = " ".join(f"w{i}" for i in range(30))
    dedup.write_dedup_index(
        spark.createDataFrame([(1, base)], ["doc_id", "text"]),
        path, mode="append")
    got = {(r.batch_id, r.index_id) for r in dedup.dedup_against_index(
        spark.createDataFrame([(10, base + " x")], ["doc_id", "text"]),
        path, mode="pairs").collect()}
    assert got == {(10, 1)}


def test_index_interrupted_overwrite_is_refused(tmp_path, spark, emb,
                                                monkeypatch):
    """An overwrite of an existing index that dies between table writes
    leaves no sidecar: readers refuse the mixed tables instead of
    answering from them under the old sidecar."""
    from pyspark.sql.readwriter import DataFrameWriter
    base = " ".join(f"w{i}" for i in range(30))
    corpus = spark.createDataFrame([(1, base)], ["doc_id", "text"])
    batch = spark.createDataFrame([(10, base + " x")], ["doc_id", "text"])
    path = str(tmp_path / "ix")
    dedup.write_dedup_index(corpus, path)
    ann_path = str(tmp_path / "ann_ix")
    vecs = emb.limit(40)
    simsearch.write_ann_index(vecs, ann_path, n_cells=4, refine_iters=0)
    queries = vecs.limit(2).select(F.col("vec_id").alias("q_id"),
                                   F.col("embedding").alias("q_vec"))

    real = DataFrameWriter.parquet
    writes = []

    def dying_parquet(self, out, *args, **kwargs):
        writes.append(out)
        if out.endswith(("/shingles", "/vectors")):
            raise RuntimeError("killed mid-write")
        return real(self, out, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", dying_parquet)
    with pytest.raises(RuntimeError, match="killed"):
        dedup.write_dedup_index(corpus, path)
    with pytest.raises(RuntimeError, match="killed"):
        simsearch.write_ann_index(vecs, ann_path, n_cells=4,
                                  refine_iters=0)
    monkeypatch.setattr(DataFrameWriter, "parquet", real)
    # the dedup overwrite died on its second table write, the ANN one
    # on its vectors write
    assert writes == [f"{path}/banded", f"{path}/shingles",
                      f"{ann_path}/vectors"]
    with pytest.raises(ValueError, match="no LSH index sidecar"):
        dedup.dedup_against_index(batch, path)
    with pytest.raises(ValueError, match="interrupted write"):
        dedup.write_dedup_index(batch, path, mode="append")
    with pytest.raises(ValueError, match="no ANN index"):
        simsearch.ann_query_index(queries, ann_path)


def _index_pairs(batch, path, threshold=0.5):
    return sorted(tuple(r) for r in dedup.dedup_against_index(
        batch, path, threshold=threshold, mode="pairs").collect())


def test_dedup_index_v1_migration(tmp_path, spark):
    """A format-1 index (one (doc_id, sh_h) row per shingle hash, sidecar
    without ``format``) is refused by match and append before any Spark
    job, with an error naming compact_dedup_index; compaction migrates
    it, and the migrated index gives the pairs of a fresh format-2 build
    for both hash families."""
    from versa_spark.storage import write_json_sidecar
    texts = [(i, " ".join(f"t{i}_{j}" for j in range(40)))
             for i in range(6)]
    corpus = spark.createDataFrame(texts, ["doc_id", "text"])
    w3 = texts[3][1].split()
    batch = spark.createDataFrame(
        [(100, texts[1][1] + " extra"),                  # J = 38/39
         (101, " ".join(w3[:37] + ["r1", "r2", "r3"])),  # J = 35/41
         (102, " ".join(f"q{j}" for j in range(40)))],   # fresh
        ["doc_id", "text"])
    sc = spark.sparkContext
    for hf in ("xxhash64", "md5"):
        v2, v1, mig = (str(tmp_path / f"{n}_{hf}")
                       for n in ("v2", "v1", "mig"))
        dedup.write_dedup_index(corpus, v2, hash_family=hf)
        (spark.read.parquet(f"{v2}/shingles")
         .selectExpr("doc_id", "explode(sh) AS sh_h")
         .write.parquet(f"{v1}/shingles"))
        for t in ("banded", "sizes"):
            spark.read.parquet(f"{v2}/{t}").write.parquet(f"{v1}/{t}")
        meta = dedup.read_dedup_index_meta(spark, v2)
        write_json_sidecar(spark, f"{v1}/_versa_lsh_index.json",
                           {k: v for k, v in meta.items() if k != "format"})

        group = f"v1-refused-{hf}"
        sc.setJobGroup(group, group)
        try:
            with pytest.raises(ValueError, match="compact_dedup_index"):
                dedup.dedup_against_index(batch, v1)
            with pytest.raises(ValueError, match="compact_dedup_index"):
                dedup.write_dedup_index(batch, v1, hash_family=hf,
                                        mode="append")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert sc.statusTracker().getJobIdsForGroup(group) == [], hf

        dedup.compact_dedup_index(spark, v1, mig)
        assert dedup.read_dedup_index_meta(spark, mig) == meta
        want = _index_pairs(batch, v2)
        assert [p[:2] for p in want] == [(100, 1), (101, 3)], hf
        assert want[1][2] == round(35 / 41, 6)
        assert _index_pairs(batch, mig) == want, hf
        # the migrated index takes format-2 appends
        dedup.write_dedup_index(batch.filter("doc_id = 102"), mig,
                                hash_family=hf, mode="append")
        again = spark.createDataFrame(
            [(200, " ".join(f"q{j}" for j in range(40)) + " tail")],
            ["doc_id", "text"])
        assert [p[:2] for p in _index_pairs(again, mig)] == [(200, 102)]


def test_dedup_index_verify_plan(tmp_path, spark):
    """The verify execution of dedup_against_index is the shared
    candidate kernel: an in-row array_intersect over the stored
    per-doc arrays — no explode, no join keyed on a shingle hash, no
    scan of sizes/."""
    import re
    base = " ".join(f"w{i}" for i in range(30))
    corpus = spark.createDataFrame([(1, base), (2, base[::-1])],
                                   ["doc_id", "text"])
    path = str(tmp_path / "ix")
    dedup.write_dedup_index(corpus, path)
    batch = spark.createDataFrame([(10, base + " x")], ["doc_id", "text"])
    got = dedup.dedup_against_index(batch, path, mode="pairs")
    # the eager checkpoint of the verified pairs is the call's last
    # SQL execution; the status store keeps its plan with the UI off
    execs = spark._jsparkSession.sharedState().statusStore() \
        .executionsList()
    plan = execs.apply(execs.size() - 1).physicalPlanDescription()
    assert [tuple(r)[:2] for r in got.collect()] == [(10, 1)]
    assert "array_intersect" in plan, plan
    assert f"{path}/shingles" in plan and "/sizes" not in plan, plan
    assert "Generate" not in plan, plan
    keyed = [ln for ln in plan.splitlines()
             if "Join" in ln or "keys" in ln]
    assert keyed, plan
    assert not any(re.search(r"\bsh(_h)?#", ln) for ln in keyed), plan


def test_ann_index_roundtrip(tmp_path, spark, emb, no_ckpt):
    """Persistent IVF index: querying the stored index returns the
    identical top-k as in-memory ivf_topk with the same quantizer, the
    scan prunes to the probed cell partitions, and append extends the
    index under the frozen centroids."""
    corpus = emb.limit(120)
    path = str(tmp_path / "ann_ix")
    simsearch.write_ann_index(corpus, path, n_cells=8, refine_iters=1)
    meta = simsearch.read_ann_index_meta(spark, path)
    assert meta["n_cells"] == 8 and meta["dim"] == len(
        corpus.first()["embedding"])

    queries = (corpus.limit(5)
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_vec")))
    got = simsearch.ann_query_index(queries, path, k=3, nprobe=2)
    ref = simsearch.ivf_topk(corpus, queries, k=3, n_cells=8,
                             nprobe=2, refine_iters=1)
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, ref.collect()))
    # every query's own vector is its rank-1 hit (cosine 1.0)
    top1 = {r.q_id: r.vec_id for r in got.collect() if r.rank == 1}
    assert all(q == v for q, v in top1.items())

    # the scan must prune to the probed partitions (pruning pinned:
    # 5 queries x nprobe 2 can legitimately cover >= 80% of 8 cells,
    # where the full-scan threshold correctly flips to one plain scan)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(simsearch, "_FULL_SCAN_FRACTION", 2.0)
        pr = simsearch.ann_query_index(queries, path, k=3, nprobe=2)
    plan = pr._jdf.queryExecution().executedPlan().toString()
    import re as _re
    m = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cell" in m.group(1), plan
    assert sorted(map(tuple, pr.collect())) == \
        sorted(map(tuple, got.collect()))

    # append more vectors under the stored quantizer; they become
    # findable without re-writing the index
    extra = (emb.orderBy(F.col("vec_id").desc()).limit(10)
             .select((F.col("vec_id") + 100000).alias("vec_id"),
                     "embedding"))
    simsearch.write_ann_index(extra, path, mode="append")
    q2 = extra.limit(2).select(F.col("vec_id").alias("q_id"),
                               F.col("embedding").alias("q_vec"))
    got2 = simsearch.ann_query_index(q2, path, k=1, nprobe=8)
    assert {r.vec_id for r in got2.collect()} == \
        {r.q_id for r in q2.collect()}

    with pytest.raises(ValueError, match="no ANN index"):
        simsearch.ann_query_index(queries, str(tmp_path / "nope"))
    with pytest.raises(ValueError, match="no ANN index"):
        simsearch.write_ann_index(extra, str(tmp_path / "nope2"),
                                  mode="append")


def test_ann_index_auto_route_by_probed_fraction(tmp_path, spark, emb,
                                                 no_ckpt, monkeypatch):
    """Scan routing by probed fraction: a small batch probes a small
    cell fraction and takes the partition-pruned scan; a full-coverage
    batch (nprobe == n_cells) takes one plain full scan (pruning a scan
    that reads every partition only adds multi-file overhead — the
    round-5 ABBA laps measured ~2x).  Both routes return identical
    results: the probes join restricts rows either way."""
    import re as _re
    corpus = emb.limit(120)
    path = str(tmp_path / "ann_ix_route")
    simsearch.write_ann_index(corpus, path, n_cells=8, refine_iters=1)

    def static_pruned(df):
        """True iff the vectors/ scan carries a STATIC literal cell
        filter (a single probed cell folds `IN (0)` to `= 0`);
        dynamicpruning# filters from the probes broadcast don't
        count — they appear on both routes."""
        plan = df._jdf.queryExecution().executedPlan().toString()
        m = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        filt = m.group(1) if m else ""
        return bool(_re.search(r"cell#\d+ (?:= \d+|IN \()", filt))

    q1 = (corpus.limit(1)
          .select(F.col("vec_id").alias("q_id"),
                  F.col("embedding").alias("q_vec")))
    # 1 query x nprobe 1 = 1/8 cells probed -> pruned with a static
    # literal cell partition filter
    assert static_pruned(
        simsearch.ann_query_index(q1, path, k=3, nprobe=1))

    qa = (corpus.limit(5)
          .select(F.col("vec_id").alias("q_id"),
                  F.col("embedding").alias("q_vec")))
    # nprobe == n_cells -> every cell probed -> no static literal
    # filter (Catalyst may still attach a dynamicpruning#
    # filter from the probes broadcast — harmless at full coverage)
    full_auto = simsearch.ann_query_index(qa, path, k=3, nprobe=8)
    assert not static_pruned(full_auto)
    # a threshold above any fraction forces pruning: same values
    monkeypatch.setattr(simsearch, "_FULL_SCAN_FRACTION", 2.0)
    forced_pruned = simsearch.ann_query_index(qa, path, k=3, nprobe=8)
    assert static_pruned(forced_pruned)
    assert sorted(map(tuple, full_auto.collect())) == \
        sorted(map(tuple, forced_pruned.collect()))
    # and a zero threshold forces the full scan even for one cell
    monkeypatch.setattr(simsearch, "_FULL_SCAN_FRACTION", 0.0)
    assert not static_pruned(
        simsearch.ann_query_index(q1, path, k=3, nprobe=1))


def test_sample_to_token_budget_monotone(spark):
    """Hash-threshold sampling is monotone in the budget: a larger
    budget's kept set contains every smaller budget's kept set (the
    property that makes budget sweeps stable across runs)."""
    rows = [(i, "a", " ".join(["w"] * 10)) for i in range(60)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    kept = [frozenset(r.doc_id for r in
                      textops.sample_to_token_budget(
                          df, {"a": float(b)}, seed=3).collect())
            for b in (100, 250, 450, 600)]
    assert 0 < len(kept[0]) < len(kept[1]) < len(kept[2]) <= 60
    for small, big in zip(kept, kept[1:]):
        assert small <= big
    assert kept[3] == frozenset(range(60))   # budget >= total keeps all


def test_chunk_documents(spark):
    """Token-window chunking: exact window contents, overlap carry,
    remainder tail, single-chunk short docs, empty docs dropped."""
    text = " ".join(f"t{i}" for i in range(25))
    df = spark.createDataFrame(
        [(1, text), (2, "short doc"), (3, "   ")],
        ["doc_id", "text"])
    got = textops.chunk_documents(df, chunk_tokens=10, overlap=4)
    rows = sorted(((r.doc_id, r.chunk_ix, r.chunk_text, r.n_tokens)
                   for r in got.collect()))
    # doc 1: stride 6 -> windows at 0,6,12,18 -> 1+ceil(15/6)=4 chunks
    d1 = [r for r in rows if r[0] == 1]
    assert len(d1) == 4
    words = text.split()
    for ix, (_, cix, ctext, ntok) in enumerate(d1):
        start = ix * 6
        expect = words[start:start + 10]
        assert cix == ix and ctext == " ".join(expect)
        assert ntok == len(expect)
    # consecutive chunks share exactly the 4 overlap tokens
    assert d1[0][2].split()[-4:] == d1[1][2].split()[:4]
    d2 = [r for r in rows if r[0] == 2]
    assert d2 == [(2, 0, "short doc", 2)]
    assert not [r for r in rows if r[0] == 3]
    with pytest.raises(ValueError):
        textops.chunk_documents(df, chunk_tokens=8, overlap=8)
    # reconstruction: stripping overlaps and concatenating recovers the
    # original token stream
    recon = []
    for ix, (_, _, ctext, _) in enumerate(d1):
        toks = ctext.split()
        recon.extend(toks if ix == 0 else toks[4:])
    assert recon == words


def test_pack_sequences(spark):
    """Next-fit packing: every sequence's token sum respects seq_len,
    all chunks keep exactly one assignment, document chunks stay
    adjacent in order, the result is partitioning-independent, and an
    oversize chunk raises."""
    docs = spark.createDataFrame(
        [(d, " ".join(f"w{d}_{i}" for i in range(50))) for d in range(12)],
        ["doc_id", "text"])
    chunks = textops.chunk_documents(docs, chunk_tokens=16, overlap=4)
    packed = textops.pack_sequences(chunks, seq_len=40, n_shards=3)
    rows = packed.collect()
    assert len(rows) == chunks.count()
    sums = {}
    for r in rows:
        sums.setdefault((r.shard, r.seq_ix), 0)
        sums[(r.shard, r.seq_ix)] += r.n_tokens
    assert all(s <= 40 for s in sums.values())
    assert len(sums) > 1
    # a doc's chunks are contiguous: within a shard, ordering by
    # (seq_ix, then original order) never interleaves documents
    by_shard = {}
    for r in sorted(rows, key=lambda r: (r.shard, r.seq_ix,
                                         r.doc_id, r.chunk_ix)):
        by_shard.setdefault(r.shard, []).append(r.doc_id)
    for seq in by_shard.values():
        seen, prev = set(), None
        for d in seq:
            if d != prev:
                assert d not in seen, "document chunks interleaved"
                seen.add(d)
                prev = d
    # partitioning-independence
    again = textops.pack_sequences(chunks.repartition(7), seq_len=40,
                                   n_shards=3).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    # oversize chunk -> task error with the clear message
    big = textops.chunk_documents(docs, chunk_tokens=45, overlap=0)
    with pytest.raises(Exception, match="exceeds"):
        textops.pack_sequences(big, seq_len=40, n_shards=2).collect()


def test_chunk_documents_rejects_negative_overlap(spark):
    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with pytest.raises(ValueError, match=r"\[0, chunk_tokens\)"):
        textops.chunk_documents(df, chunk_tokens=10, overlap=-5)


def test_dedup_index_compaction(tmp_path, spark):
    """compact_dedup_index rewrites an append-grown index into a fresh
    path with bounded file counts; query results are identical, the
    sidecar carries over, and the guards hold (no source sidecar /
    occupied destination)."""
    import os
    texts = [(i, " ".join(f"t{i}_{j}" for j in range(25)))
             for i in range(6)]
    src = str(tmp_path / "src_ix")
    dedup.write_dedup_index(
        spark.createDataFrame(texts[:2], ["doc_id", "text"]), src)
    for lo, hi in [(2, 4), (4, 6)]:
        dedup.write_dedup_index(
            spark.createDataFrame(texts[lo:hi], ["doc_id", "text"]),
            src, mode="append")

    dst = str(tmp_path / "dst_ix")
    dedup.compact_dedup_index(spark, src, dst)
    assert (dedup.read_dedup_index_meta(spark, dst)
            == dedup.read_dedup_index_meta(spark, src))
    # bounded layout: one part file per table after three writes (the
    # scan split rule's count at this size)
    for t in ("banded", "shingles", "sizes"):
        parts = [f for f in os.listdir(os.path.join(dst, t))
                 if f.endswith(".parquet")]
        assert len(parts) == 1
        src_parts = [f for f in os.listdir(os.path.join(src, t))
                     if f.endswith(".parquet")]
        assert len(src_parts) > 1          # the appends really fragmented

    batch = spark.createDataFrame(
        [(100, texts[3][1] + " extra"),    # near-dup of indexed doc 3
         (101, " ".join(f"q{j}" for j in range(25)))],
        ["doc_id", "text"])
    via_src = {(r.batch_id, r.index_id) for r in
               dedup.dedup_against_index(batch, src,
                                         mode="pairs").collect()}
    via_dst = {(r.batch_id, r.index_id) for r in
               dedup.dedup_against_index(batch, dst,
                                         mode="pairs").collect()}
    assert via_src == via_dst == {(100, 3)}

    with pytest.raises(ValueError, match="no dedup index sidecar"):
        dedup.compact_dedup_index(spark, str(tmp_path / "nowhere"), dst)
    with pytest.raises(ValueError, match="already holds"):
        dedup.compact_dedup_index(spark, src, dst)
