"""Text analysis for large-scale training-data pipelines.

All hot paths are JVM column expressions (whole-stage codegen); only
language-ID uses a pandas UDF (vectorized trigram profile scoring).
Operates on the ``documents`` table shape (doc_id, text, lang, source,
n_chars) but takes any DataFrame + text column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from versa_spark.dedup import normalized_text

# A BPE-ish token regex: word pieces, numbers, or single non-space symbols
# (the GPT-2 pre-tokenizer shape, simplified to ASCII classes).
BPE_ISH_TOKEN = r"[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\s]"

STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
             "for", "on", "with", "as", "at", "by", "this", "that")


def _ws_strip(t):
    r"""Strip LEADING/TRAILING whitespace of any kind — F.trim strips
    spaces only, so '...there  
' keeps its tail and a \s+ split then
    emits a phantom empty token that inflates every word count."""
    return F.regexp_replace(t, r"^\s+|\s+$", "")


def _ws_token_count(text_col: str):
    """Whitespace token count as a pure expression (0 for blank text)."""
    tt = _ws_strip(F.col(text_col))
    return F.when(F.length(tt) == 0, F.lit(0)).otherwise(
        F.size(F.split(tt, r"\s+")))


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace and BPE-ish token counts as pure expressions."""
    t = F.col(text_col)
    bpe = F.size(F.regexp_extract_all(t, F.lit(BPE_ISH_TOKEN), 0))
    return df.withColumn("ws_tokens",
                         _ws_token_count(text_col).cast("int")) \
             .withColumn("bpe_tokens", bpe.cast("int"))


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality features + a [0,1] score: length band, punctuation
    ratio, stopword ratio, mean word length — the standard cheap filters of
    web-scale corpus cleaning (C4/Gopher-style rules, public recipes)."""
    t = F.col(text_col)
    n_chars = F.length(t)
    tt = _ws_strip(t)
    words = F.split(tt, r"\s+")
    n_words = F.when(F.length(tt) == 0, F.lit(0)).otherwise(
        F.size(words))
    n_punct = F.size(F.regexp_extract_all(t, F.lit(r"[^\w\s]"), 0))
    n_stop = F.size(F.filter(words, lambda w: F.lower(w).isin(
        list(STOPWORDS))))
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_words > 0, n_stop / n_words).otherwise(F.lit(0.0))
    # mean word length must use the COLLAPSED char count: with the raw
    # length, leading/trailing/multiple whitespace inflates the metric
    # (e.g. '  hi    there  ' -> 7.0 instead of the true 3.5) and can
    # cost a doc the quality bonus purely for formatting
    n_chars_norm = F.length(F.regexp_replace(tt, r"\s+", " "))
    mean_wlen = F.when(n_words > 0,
                       (n_chars_norm - n_words + 1) / n_words) \
        .otherwise(F.lit(0.0))
    length_ok = (n_words >= 10) & (n_words <= 100000)
    score = (F.when(length_ok, F.lit(0.4)).otherwise(F.lit(0.0))
             + F.when(punct_ratio < 0.2, F.lit(0.2)).otherwise(F.lit(0.0))
             + F.when((stop_ratio > 0.01) & (stop_ratio < 0.6),
                      F.lit(0.2)).otherwise(F.lit(0.0))
             + F.when((mean_wlen > 2) & (mean_wlen < 12),
                      F.lit(0.2)).otherwise(F.lit(0.0)))
    return (df.withColumn("n_words", n_words.cast("int"))
            .withColumn("punct_ratio", F.round(punct_ratio, 6))
            .withColumn("stopword_ratio", F.round(stop_ratio, 6))
            .withColumn("mean_word_len", F.round(mean_wlen, 6))
            .withColumn("quality", F.round(score, 2)))


# --- language ID: n-gram profile heuristic (pandas UDF) --------------------

# Tiny deterministic trigram profiles (most-frequent trigrams per language,
# from public frequency lists; enough for a heuristic tie-break).
_LANG_PROFILES = {
    "en": (" th", "the", "he ", " an", "and", "nd ", " of", "of ", "ing",
           " to", "to ", "er ", " in", "ed ", "is "),
    "fr": (" de", "de ", " le", "es ", "le ", "ent", " la", "la ", "ion",
           "re ", " et", "et ", "que", " qu", "les"),
    "de": ("er ", "en ", " de", "der", "ie ", " di", "die", "sch", "ein",
           "che", "ich", "nde", " ei", "und", " un"),
    "es": (" de", "de ", " la", "la ", "os ", "el ", " el", "que", " qu",
           "as ", " en", "en ", "ent", "ción", " co"),
}


def lang_id_udf():
    """pandas UDF: text → best-scoring language code ('und' when nothing
    matches). Trigram containment scoring, vectorized per batch."""
    from pyspark.sql.types import StringType

    @F.pandas_udf(StringType())
    def _lang(texts):
        import pandas as pd

        def score(s):
            if not s:
                return "und"
            s = " " + s[:1000].lower() + " "
            best, best_n = "und", 0
            for lang, grams in _LANG_PROFILES.items():
                n = sum(1 for g in grams if g in s)
                if n > best_n:
                    best, best_n = lang, n
            return best if best_n >= 2 else "und"
        return texts.map(score)
    return _lang


def with_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("lang_pred", lang_id_udf()(F.col(text_col)))


def doc_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """64-bit content fingerprint: xxhash64 of the whitespace-normalized
    text (JVM-side; for exact-dup detection where cross-engine parity
    doesn't matter) plus md5 (cross-engine verifiable)."""
    norm = normalized_text(text_col)
    return (df.withColumn("fp_xx64", F.xxhash64(norm))
            .withColumn("fp_md5", F.md5(norm)))


def winnow_fingerprints(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 5,
                        window: int = 4,
                        hash_family: str = "xxhash64") -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD 2003, public): hash every character k-gram of the normalized
    text, then select the MINIMUM hash of each sliding window of
    ``window`` consecutive grams — any shared substring of length
    ≥ k + window - 1 between two documents is guaranteed to share a
    selected fingerprint.

    The classic algorithm's "rolling" hash is an incremental-computation
    trick for single-threaded scans; on Spark the per-gram hash is one
    JVM expression over a posexploded gram table and the window minimum
    is a BOUNDED rows-window partitioned by doc_id (never a global sort),
    so the whole plan is linear in total text size and embarrassingly
    parallel across documents.

    hash_family 'md5' derives a 48-bit integer from the digest
    (CAST('0x'||substr(md5(gram),1,12))) so DuckDB reproduces the exact
    fingerprint set.  Returns distinct (doc_id, fp) rows; documents
    shorter than k + window - 1 characters yield no fingerprints (fewer
    than k chars have no k-gram at all; between k and k + window - 2 chars
    there is no FULL window of grams, and the pos <= n_grams - window
    guard drops partial windows so the guarantee stays exact both ways —
    matching the oracle SQL)."""
    from pyspark.sql import Window
    norm = normalized_text(text_col)
    g = (df.select(F.col(id_col).alias("doc_id"), norm.alias("_norm"))
         .filter(F.length("_norm") >= k)
         .select("doc_id",
                 (F.length("_norm") - k + 1).alias("_n_grams"),
                 F.posexplode(F.transform(
                     F.sequence(F.lit(0), F.length("_norm") - k),
                     lambda i: F.col("_norm").substr(i + 1, F.lit(k))))
                 .alias("pos", "gram")))
    if hash_family == "xxhash64":
        h = F.xxhash64("gram")
    elif hash_family == "md5":
        h = F.conv(F.substring(F.md5("gram"), 1, 12), 16, 10).cast("long")
    else:
        raise ValueError(f"unknown hash_family {hash_family!r}")
    g = g.select("doc_id", "_n_grams", "pos", h.alias("h"))
    w = (Window.partitionBy("doc_id").orderBy("pos")
         .rowsBetween(Window.currentRow, window - 1))
    full = (g.withColumn("fp", F.min("h").over(w))
            .filter(F.col("pos") <= F.col("_n_grams") - window))
    return full.select("doc_id", "fp").distinct()


def repetition_stats(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021, public):

    * ``dup_word_frac``   — 1 − distinct(words)/len(words): pure
      higher-order array functions, no shuffle;
    * ``top_bigram_frac`` — occurrences of the most frequent word bigram
      / total bigrams;
    * ``dup_trigram_frac``— fraction of trigram OCCURRENCES whose gram
      appears more than once.

    The bigram/trigram stats explode grams and aggregate per (doc, gram)
    — one shuffle keyed by (doc_id, gram) with map-side partial
    aggregation; keys are unique per doc so there is no hot key.  Filter
    thresholds are the caller's policy (Gopher drops docs with
    top-2-gram > 0.20 or dup-3-gram occupancy > 0.18 etc.)."""
    norm = normalized_text(text_col)
    words = F.split(norm, " ")
    base = df.select(F.col(id_col).alias("doc_id"), words.alias("_w"))
    dup_word = (F.lit(1.0) - F.size(F.array_distinct("_w"))
                / F.size("_w"))

    def grams(n):
        return F.when(
            F.size("_w") >= n,
            F.transform(F.sequence(F.lit(0), F.size("_w") - n),
                        lambda i: F.concat_ws(
                            " ", F.slice("_w", i + 1, n)))
        ).otherwise(F.array().cast("array<string>"))

    def gram_stats(n, out_top, out_dup):
        g = base.select("doc_id", F.explode(grams(n)).alias("g"))
        per = g.groupBy("doc_id", "g").agg(F.count("*").alias("c"))
        return (per.groupBy("doc_id")
                .agg((F.max("c") / F.sum("c")).alias(out_top),
                     (F.sum(F.when(F.col("c") > 1, F.col("c"))
                            .otherwise(0)) / F.sum("c")).alias(out_dup)))

    bi = gram_stats(2, "top_bigram_frac", "_dup2")
    tri = gram_stats(3, "_top3", "dup_trigram_frac")
    out = (base.select("doc_id", F.round(dup_word, 6)
                       .alias("dup_word_frac"))
           .join(bi.select("doc_id", "top_bigram_frac"), "doc_id", "left")
           .join(tri.select("doc_id", "dup_trigram_frac"), "doc_id",
                 "left"))
    return out.select(
        "doc_id", "dup_word_frac",
        F.round(F.coalesce("top_bigram_frac", F.lit(0.0)), 6)
        .alias("top_bigram_frac"),
        F.round(F.coalesce("dup_trigram_frac", F.lit(0.0)), 6)
        .alias("dup_trigram_frac"))


# PII-ish surface patterns (redaction signals of web-corpus cleaning;
# public recipes — C4 removes lines with "javascript", Dolma/RefinedWeb
# regex-mask emails/IPs/phones).  Kept to constructs with identical
# semantics in Java regex and RE2 (no lookaround, no backrefs) so the
# DuckDB oracle reproduces counts AND redacted text byte-for-byte.
PII_PATTERNS = {
    "n_emails": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "n_urls": r"https?://[^\s]+",
    "n_ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    # phones require explicit separators (303-555-1234 / 303.555.1234 /
    # (303) 555-1234) — bare 10-digit runs collide with ids/counters;
    # no leading \b because '(' is itself a non-word char
    "n_phones": r"\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4}\b",
    # 16-digit card shapes in 4-groups (spaced/dashed/bare); counts are
    # surface heuristics like the rest — no Luhn check (a checksum is
    # not expressible in the regex subset both engines share)
    "n_ccards": r"\b\d{4}[- ]?\d{4}[- ]?\d{4}[- ]?\d{4}\b",
}


def pii_stats(df: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """Per-doc counts of PII-ish patterns (emails, URLs, IPv4) — pure
    JVM ``regexp_count`` expressions, one scan, no shuffle."""
    out = df
    for name, pat in PII_PATTERNS.items():
        out = out.withColumn(
            name, F.regexp_count(F.col(text_col), F.lit(pat)).cast("int"))
    return out


def pii_redact(df: DataFrame, text_col: str = "text",
               repl: str = "<PII>", out_col: str = "redacted") -> DataFrame:
    """Masks every PII pattern occurrence with ``repl`` (chained global
    ``regexp_replace`` — whole-stage codegen, no Python).  Email first so
    a URL containing an address masks deterministically."""
    t = F.col(text_col)
    for pat in PII_PATTERNS.values():
        t = F.regexp_replace(t, pat, repl)
    return df.withColumn(out_col, t)


def stratified_sample(df: DataFrame, fractions: dict,
                      key_col: str = "source", id_col: str = "doc_id",
                      seed: int = 42, default_fraction: float = 0.0,
                      hash_family: str = "xxhash64") -> DataFrame:
    """Deterministic stratified sampling — the domain-mixture shaping
    step of corpus construction (e.g. up/down-weighting sources to a
    target mixture): keep a row iff its id-hash falls under the
    stratum's threshold.

    Hash-threshold sampling (keep ⇔ h(id, seed) < frac · 2^48) is
    reproducible across runs, partitionings, and engines — unlike
    ``df.sample``, whose output depends on partition layout — and it is
    a pure map-side filter: no shuffle, no state, works identically on
    a 100-TB corpus and in a streaming micro-batch.

    hash_family 'xxhash64' is the fast JVM path; 'md5' derives a 48-bit
    integer from md5(id || ':' || seed) so standard SQL reproduces the
    exact sample (the driver-oracle family, same convention as MinHash).
    """
    mapping = F.create_map(*[F.lit(x) for kv in fractions.items()
                             for x in kv])
    frac = F.coalesce(mapping[F.col(key_col)],
                      F.lit(float(default_fraction)))
    h = _id_hash48(id_col, seed, hash_family)
    return df.filter(h < (frac * float(1 << 48)))


def _id_hash48(id_col: str, seed: int, hash_family: str):
    """48-bit uniform id hash — the shared keep/drop coin of
    stratified_sample and sample_to_token_budget (keep ⇔ h < frac·2^48).
    'xxhash64' is the fast JVM path; 'md5' is reproducible in standard
    SQL (the driver-oracle family)."""
    if hash_family == "xxhash64":
        return F.pmod(F.xxhash64(F.col(id_col).cast("string"),
                                 F.lit(seed)), F.lit(1 << 48))
    if hash_family == "md5":
        return F.conv(F.substring(
            F.md5(F.concat(F.col(id_col).cast("string"),
                           F.lit(f":{seed}"))), 1, 12), 16, 10).cast("long")
    raise ValueError(f"unknown hash_family {hash_family!r}")


def sample_to_token_budget(df: DataFrame, budgets: dict,
                           key_col: str = "source",
                           id_col: str = "doc_id",
                           text_col: str = "text",
                           tokens_col: str | None = None,
                           seed: int = 42,
                           default_budget: float | None = None,
                           hash_family: str = "xxhash64") -> DataFrame:
    """Deterministic per-source TOKEN-budget downsampling — the
    data-mixing step of training-corpus assembly ("2B tokens of web,
    500M of code, all of wiki"): for each source, keep a hash-selected
    subset of documents whose expected token mass equals the source's
    budget.

    ``budgets`` maps source → token budget; a source's keep fraction is
    ``min(1, budget / total_tokens(source))``, so budgets at or above a
    source's total keep it whole and the rest are IID-downsampled by
    document (the standard recipe — sampling whole documents, not
    truncating text, preserves document statistics).  Sources absent
    from ``budgets`` get ``default_budget`` (None ⇒ dropped — an
    explicit mixture lists what it wants).

    Tokens per doc come from ``tokens_col`` if the corpus already
    carries counts, else the whitespace count of :func:`token_counts`
    computed in-plan.

    Plan shape at 100 TB: one narrow partial-agged groupBy over
    (source) for the totals — a handful of rows, broadcast back — then
    a pure map-side hash-threshold filter (the stratified_sample coin,
    :func:`_id_hash48`), no second shuffle, no state; reproducible
    across runs, partitionings, and engines, and identical in a
    streaming micro-batch.  Returns the kept rows with a ``_frac``
    column (the applied fraction) for audit."""
    toks = (F.col(tokens_col).cast("double") if tokens_col
            else _ws_token_count(text_col).cast("double"))
    with_t = df.withColumn("_toks", toks)
    totals = F.broadcast(with_t.groupBy(F.col(key_col).alias("_key"))
                         .agg(F.sum("_toks").alias("_total")))
    mapping = F.create_map(*[F.lit(x) for kv in budgets.items()
                             for x in kv])
    budget = mapping[F.col("_key")]
    if default_budget is not None:
        budget = F.coalesce(budget, F.lit(float(default_budget)))
    # least() SKIPS nulls (least(1.0, NULL) = 1.0), so a missing budget
    # must be zeroed explicitly or unlisted sources silently keep
    # everything — the exact opposite of "an explicit mixture lists
    # what it wants"
    frac = F.when(budget.isNotNull() & (F.col("_total") > 0),
                  F.least(F.lit(1.0), budget / F.col("_total"))) \
            .otherwise(F.lit(0.0))
    h = _id_hash48(id_col, seed, hash_family)
    return (with_t
            .join(totals, with_t[key_col] == F.col("_key"), "left")
            .withColumn("_frac", frac)
            .filter(h < (F.col("_frac") * float(1 << 48)))
            .drop("_key", "_total", "_toks"))


def tfidf_top_terms(df: DataFrame, k: int = 3, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Top-k terms per document by TF-IDF: (doc_id, term, tf, tfidf, rk).

    tfidf = tf · ln(N / df) rounded to 4 dp; ranking happens on the
    UNROUNDED score with (score desc, term asc) tie-break, and both
    factors are computed with the identical expression shape the SQL
    oracle uses (ln of the same double ratio), so rank order is
    engine-independent even among ties.

    Scale: tokenize → per-(doc, term) count (one shuffle, unique keys
    per doc, map-side partial agg) → document frequency per term (second
    shuffle, partial-agged so stopword-grade hot terms arrive as one row
    per map partition) → join tf⋈df on term (AQE handles residual skew)
    → per-doc top-k window.  The window partitions by doc_id — high
    cardinality, bounded rows per doc, never a global sort."""
    from pyspark.sql import Window
    toks = (df.select(F.col(id_col).alias("doc_id"),
                      F.explode(F.split(F.lower(F.col(text_col)),
                                        "[^a-z0-9]+")).alias("term"))
            .filter(F.col("term") != ""))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    # N = DISTINCT documents: id_col is normally unique per row, but a
    # multi-row-per-doc input must not inflate IDF (df counts each doc
    # once via the (doc, term) rollup, so N has to match that universe)
    n_docs = F.broadcast(
        df.agg(F.countDistinct(id_col).alias("_n")))
    score = (F.col("tf")
             * F.log(F.col("_n").cast("double") / F.col("df")))
    w = (Window.partitionBy("doc_id")
         .orderBy(score.desc(), F.col("term").asc()))
    return (tf.join(dfreq, "term").crossJoin(n_docs)
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select("doc_id", "term", "tf",
                    F.round(score, 4).alias("tfidf"), "rk"))


def repeated_ngrams(df: DataFrame, n: int = 5, min_docs: int = 2,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Corpus-level repeated word n-grams — boilerplate / template
    discovery (the discovery half of exact-substring dedup, Lee et al.
    2022 "Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499): (gram, n_docs, n_occurrences) for every n-gram
    appearing in >= min_docs distinct documents.

    Scale: grams build inside per-row array expressions (the
    repetition_stats convention — no join), then ONE aggregation keyed
    by gram.  COUNT(DISTINCT doc_id) plans as a two-phase aggregate
    with map-side partials, so a boilerplate gram occurring in 10^9
    docs arrives at its reducer as one partial row per map partition —
    no hot-key blowup.  Downstream removal joins this (small, filtered)
    table back to the corpus semi-joined on gram."""
    norm = normalized_text(text_col)
    # trim strips spaces only — a leading tab/newline normalizes to a
    # leading space, so split would emit a phantom '' word that both
    # inflates the >= n threshold and pollutes boundary grams
    words = F.filter(F.split(norm, " "), lambda x: x != "")
    grams = F.when(
        F.size(words) >= n,
        F.transform(F.sequence(F.lit(0), F.size(words) - n),
                    lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)))
    ).otherwise(F.array().cast("array<string>"))
    g = df.select(F.col(id_col).alias("doc_id"),
                  F.explode(grams).alias("gram"))
    return (g.groupBy("gram")
            .agg(F.countDistinct("doc_id").alias("n_docs"),
                 F.count("*").alias("n_occurrences"))
            .filter(F.col("n_docs") >= min_docs))


def bpe_train_merges(df: DataFrame, n_merges: int = 200,
                     sample_docs: int = 2000,
                     text_col: str = "text") -> list[tuple[str, str]]:
    """Train a ranked BPE merge list (Sennrich et al. 2016) on a
    deterministic corpus sample, driver-side.

    Vocabulary training is a ONE-OFF per corpus — the distributed hot
    path is counting (:func:`bpe_token_counts`), so the trainer
    deliberately collects a bounded, hash-ordered sample (md5 of the
    text: stable across partitionings and runs) and runs the classic
    frequency-greedy merge loop in plain Python.  Pre-tokenization is
    the corpus convention (lower + whitespace collapse, split on
    space); symbols start as characters, ties break to the
    lexicographically smallest pair so the merge list is fully
    deterministic.  Pass the result straight to
    :func:`bpe_token_counts`, or persist it as your tokenizer
    artifact."""
    import re as _re
    from collections import Counter
    rows = (df.select(F.md5(F.col(text_col).cast("string")).alias("_h"),
                      F.col(text_col).alias("_t"))
            .orderBy("_h").limit(int(sample_docs)).collect())
    wf: Counter = Counter()
    for r in rows:
        t = _re.sub(r"\s+", " ", (r._t or "").strip().lower())
        for w in t.split(" "):
            if w:
                wf[w] += 1
    vocab = {w: tuple(w) for w in wf}
    merges: list[tuple[str, str]] = []
    for _ in range(int(n_merges)):
        pc: Counter = Counter()
        for w, syms in vocab.items():
            f = wf[w]
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += f
        if not pc:
            break
        best = min(pc, key=lambda p: (-pc[p], p))
        merges.append(best)
        a, b = best
        nxt = {}
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if (i < len(syms) - 1 and syms[i] == a
                        and syms[i + 1] == b):
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nxt[w] = tuple(out)
        vocab = nxt
    return merges


def bpe_token_counts(df: DataFrame, merges: list[tuple[str, str]],
                     text_col: str = "text",
                     out_col: str = "bpe_exact_tokens") -> DataFrame:
    """EXACT BPE token counts with a ranked merge list — the opt-in
    precise counterpart of :func:`token_counts`' "BPE-ish" regex
    heuristic, so :func:`sample_to_token_budget` (via ``tokens_col``)
    and packing decisions can run on exact budgets.

    Counting is an Arrow-batched pandas UDF: the merge ranks ship once
    per executor in the task closure (a 50k-merge vocabulary is a few
    MB — closure-sized; this is a static lookup table, not data), and
    a per-batch word cache memoizes the merge loop, so the per-row
    cost collapses to a dict lookup for every repeated word.  Zero
    shuffles — a pure map."""
    from pyspark.sql.types import IntegerType
    ranks = {tuple(p): i for i, p in enumerate(merges)}

    @F.pandas_udf(IntegerType())
    def _count(texts):
        import re as _re
        import pandas as pd
        cache: dict[str, int] = {}

        def count_word(w: str) -> int:
            got = cache.get(w)
            if got is not None:
                return got
            syms = list(w)
            while len(syms) > 1:
                best_rank = best_i = None
                for i in range(len(syms) - 1):
                    r = ranks.get((syms[i], syms[i + 1]))
                    if r is not None and (best_rank is None
                                          or r < best_rank):
                        best_rank, best_i = r, i
                if best_rank is None:
                    break
                a, b = syms[best_i], syms[best_i + 1]
                out, i = [], 0
                while i < len(syms):
                    if (i < len(syms) - 1 and syms[i] == a
                            and syms[i + 1] == b):
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = out
            cache[w] = len(syms)
            return cache[w]

        vals = []
        for t in texts:
            if t is None:
                vals.append(0)
                continue
            t = _re.sub(r"\s+", " ", t.strip().lower())
            vals.append(sum(count_word(w) for w in t.split(" ") if w))
        return pd.Series(vals, dtype="int32")

    return df.withColumn(out_col, _count(F.col(text_col)))


# remove_repeated_spans broadcasts its hot-gram table at or below this
# many rows (counted); above it AQE plans the join
_HOT_GRAM_BROADCAST_ROWS = 2_000_000


def remove_repeated_spans(df: DataFrame, n: int = 5, min_docs: int = 2,
                          mode: str = "trim", id_col: str = "doc_id",
                          text_col: str = "text",
                          hot_grams: DataFrame | None = None) -> DataFrame:
    """Exact-substring dedup, REMOVAL half (Lee et al. 2022,
    arXiv:2107.06499 §4 "ExactSubstr"): every word-``n``-gram window
    occurring in >= ``min_docs`` distinct documents is boilerplate;
    overlapping windows merge into maximal covered spans, and those
    spans are removed from (or flag/drop) the documents.  Complements
    whole-document MinHash dedup: boilerplate spans inside
    otherwise-unique documents (license headers, navigation chrome,
    template footers) ride through near-dup removal untouched.

    Modes — ``'trim'``: rows pass through with ``text_col`` rewritten to
    the surviving normalized tokens (documents with no covered token
    pass through BYTE-IDENTICAL — no normalization applied), plus
    ``n_tokens_removed`` / ``n_spans``; ``'drop'``: documents containing
    any covered span are removed (rows unchanged); ``'flag'``: adds
    boolean ``has_repeated_span`` + ``n_spans``.  A fully-boilerplate
    document trims to an empty string rather than disappearing — filter
    on length downstream if empties should drop.

    The suffix-array recipe in the paper is a single-machine
    construction; the Spark-first equivalent for fixed ``n`` is two
    passes over the corpus:

    1. **Discovery** — :func:`repeated_ngrams`: grams built inside
       per-row array expressions, ONE gram-keyed aggregation with
       map-side partials (a gram in 10^9 docs reaches its reducer as
       one partial per map partition).  Pass a precomputed/persisted
       ``hot_grams`` frame to skip this (e.g. a boilerplate table
       shared across ingestion batches).
    2. **Removal** — re-derive grams WITH positions (posexplode), join
       to the hot-gram table (broadcast when its count is at or below
       ``_HOT_GRAM_BROADCAST_ROWS`` — boilerplate vocabularies are small
       by construction; above the cap AQE plans a shuffle join on
       gram), collect covered
       start positions per document (only documents containing
       boilerplate appear — the starts side is corpus-fraction-sized),
       LEFT-join back and rebuild the text with pure JVM array
       expressions: zero Python in the rewrite path.

    The grams are recomputed rather than persisted between the two
    passes deliberately: materializing the exploded corpus (~|words|
    rows per doc) costs more at 100 TB than a second columnar scan.

    ``n_spans`` counts maximal contiguous covered token ranges: a start
    opens a new span iff no earlier start lies within ``n`` tokens
    (windows are fixed-length, so touch/overlap chaining is exactly
    that predicate — the same definition a SQL oracle can replay)."""
    if mode not in ("trim", "drop", "flag"):
        raise ValueError(f"mode must be trim/drop/flag, got {mode!r}")
    if hot_grams is None:
        hot_grams = repeated_ngrams(df, n=n, min_docs=min_docs,
                                    id_col=id_col, text_col=text_col)
    # the discovery aggregate is the expensive corpus pass; checkpoint
    # it so the broadcast-guard count() and the removal join don't each
    # run it from scratch (the hot-gram table itself is small — that is
    # what makes it broadcastable)
    hot = hot_grams.select("gram").localCheckpoint(eager=True)
    if hot.count() <= _HOT_GRAM_BROADCAST_ROWS:
        hot = F.broadcast(hot)

    norm = normalized_text(text_col)
    words = F.filter(F.split(norm, " "), lambda x: x != "")
    grams = F.when(
        F.size(words) >= n,
        F.transform(F.sequence(F.lit(0), F.size(words) - n),
                    lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)))
    ).otherwise(F.array().cast("array<string>"))
    pos = (df.select(F.col(id_col).alias("_rid"),
                     F.posexplode(grams).alias("pos", "gram")))
    starts = (pos.join(hot, "gram")
              .groupBy("_rid")
              .agg(F.sort_array(F.collect_list("pos")).alias("_starts")))

    if mode == "drop":
        return df.join(starts, df[id_col] == starts["_rid"], "left_anti")

    joined = (df.join(starts, df[id_col] == starts["_rid"], "left")
              .drop("_rid"))
    st = F.coalesce(F.col("_starts"), F.array().cast("array<int>"))
    # new-span predicate: no earlier start within n tokens (fixed-length
    # windows => exactly the maximal-contiguous-range count)
    n_spans = F.size(F.filter(
        st, lambda s: F.size(F.filter(
            st, lambda s2: (s2 < s) & (s2 >= s - n))) == 0))
    if mode == "flag":
        return (joined
                .withColumn("has_repeated_span",
                            F.col("_starts").isNotNull())
                .withColumn("n_spans", n_spans)
                .drop("_starts"))

    sz = F.size(words)
    idx = F.when(sz > 0, F.sequence(F.lit(0), sz - 1)) \
           .otherwise(F.array().cast("array<int>"))
    kept_idx = F.filter(
        idx, lambda j: ~F.exists(st, lambda s: (s <= j) & (j < s + n)))
    cleaned = F.concat_ws(
        " ", F.transform(kept_idx, lambda j: F.element_at(words, j + 1)))
    touched = F.col("_starts").isNotNull()
    return (joined
            .withColumn("n_tokens_removed",
                        F.when(touched, sz - F.size(kept_idx))
                        .otherwise(F.lit(0)))
            .withColumn("n_spans",
                        F.when(touched, n_spans).otherwise(F.lit(0)))
            .withColumn(text_col,
                        F.when(touched, cleaned).otherwise(F.col(text_col)))
            .drop("_starts"))


def chunk_documents(df: DataFrame, chunk_tokens: int = 512,
                    overlap: int = 64, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Split documents into whitespace-token windows of ``chunk_tokens``
    with ``overlap`` tokens of context carried between consecutive
    chunks — the chunking step before sequence packing / embedding /
    retrieval indexing.  Returns (doc_id, chunk_ix, chunk_text,
    n_tokens); a doc at or under the window emits exactly one chunk.

    Pure JVM expressions end-to-end: split → slice windows via
    transform(sequence(…)) → explode, so it whole-stage-codegens and
    needs no shuffle at all.  Stride = chunk_tokens − overlap; the last
    window is the remainder (≥ 1 token, ≤ chunk_tokens) rather than a
    duplicate of earlier text.  Deterministic: chunk_ix is the window
    ordinal, independent of partitioning."""
    if not 0 <= overlap < chunk_tokens:
        # negative overlap would SKIP tokens between windows (breaking
        # the reconstruction contract) and can emit empty chunks
        raise ValueError(
            f"overlap ({overlap}) must be in [0, chunk_tokens) "
            f"(chunk_tokens={chunk_tokens})")
    stride = chunk_tokens - overlap
    words = F.split(_ws_strip(F.col(text_col)), r"\s+")
    n = F.when(F.length(_ws_strip(F.col(text_col))) == 0, F.lit(0)) \
         .otherwise(F.size(words))
    # number of windows: 1 + ceil(max(0, n - chunk) / stride)
    n_chunks = F.when(n <= chunk_tokens, F.lit(1)).otherwise(
        F.lit(1) + F.ceil((n - chunk_tokens) / F.lit(stride))
                     .cast("int"))
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.cast("int").alias("chunk_ix"),
            F.concat_ws(" ", F.slice(words, i * stride + 1,
                                     chunk_tokens)).alias("chunk_text"),
            F.least(F.lit(chunk_tokens), n - i * stride)
             .cast("int").alias("n_tokens")))
    return (df.filter(n > 0)
            .select(F.col(id_col).alias("doc_id"),
                    F.explode(chunks).alias("c"))
            .select("doc_id", "c.chunk_ix", "c.chunk_text",
                    "c.n_tokens"))


def pack_sequences(chunks: DataFrame, seq_len: int = 2048,
                   id_col: str = "doc_id", ix_col: str = "chunk_ix",
                   tokens_col: str = "n_tokens",
                   n_shards: int = 256) -> DataFrame:
    """Greedy next-fit packing of chunks into fixed-capacity training
    sequences: every output group (shard, seq_ix) holds chunks whose
    token counts sum to ≤ ``seq_len`` — the bin-packing step between
    :func:`chunk_documents` and batch assembly.

    Exact sequential bin packing is a stateful scan, so it runs as an
    ``applyInPandas`` kernel per SHARD (``pmod(xxhash64(doc_id),
    n_shards)``): one shuffle on the shard key, then each shard packs
    its chunks in deterministic (doc_id, chunk_ix) order with a
    vectorized next-fit pass — no Python in any per-row path outside
    the Arrow batch, and the assignment is independent of input
    partitioning.  Next-fit (close the bin when the next chunk would
    overflow) wastes a bounded tail per bin but keeps a document's
    chunks adjacent — the usual training-data trade.

    Packing quality and parallelism trade through ``n_shards``: bins
    never cross shards, so expected waste is one partial bin per shard;
    at 10^9 chunks and 256 shards that is noise, at fixture scale pick
    a small ``n_shards``.  A chunk with more than ``seq_len`` tokens
    raises (task error) rather than silently emitting an over-long
    sequence.

    Returns the input columns plus (shard, seq_ix); downstream
    ``groupBy("shard", "seq_ix")`` assembles the sequences."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    out_schema = StructType(
        list(chunks.schema.fields)
        + [StructField("shard", IntegerType(), False),
           StructField("seq_ix", IntegerType(), False)])
    cols = [f.name for f in chunks.schema.fields]

    def _pack(pdf):
        import numpy as np
        pdf = pdf.sort_values([id_col, ix_col], kind="mergesort")
        toks = pdf[tokens_col].to_numpy()
        if len(toks) and toks.max() > seq_len:
            raise ValueError(
                f"chunk with {int(toks.max())} tokens exceeds "
                f"seq_len={seq_len}; re-chunk with chunk_tokens <= "
                f"seq_len first")
        seq = np.zeros(len(toks), dtype="int32")
        total, cur = 0, 0
        for i, t in enumerate(toks):
            if total + t > seq_len:
                cur += 1
                total = 0
            seq[i] = cur
            total += int(t)
        return pdf.assign(seq_ix=seq)[cols + ["shard", "seq_ix"]]

    sharded = chunks.withColumn(
        "shard", F.pmod(F.xxhash64(F.col(id_col).cast("string")),
                        F.lit(n_shards)).cast("int"))
    return sharded.groupBy("shard").applyInPandas(_pack, schema=out_schema)
