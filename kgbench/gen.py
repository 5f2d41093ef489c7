"""Seeded input generator for the kgbench workloads.

Writes every input before any timing starts; the library under test only
ever sees the files written here.  The same ``--seed`` gives byte-identical
inputs.  Besides the inputs it writes ``truth.json``: the exact counts the
output checks compare against, derived from how the text was built (the
generator knows where it put every lexicon word; filler never collides
with the lexicon).

Transcripts follow the north-rule schema (conv_id, turn_idx int32, role,
text, tool nullable, ts).  Rows are shuffled so turn order must be rebuilt.
Knobs: lexicon-mention density per word slot, the share of turns that
mention the hot entity ('spark'), and a wide filler vocabulary, so turns
are not near-duplicates of each other.

Dedup documents are filler-only texts of 40-80 words.  Each batch plants a
known share of near-duplicates of indexed documents (one word replaced, so
word-3-shingle Jaccard is at least 0.85) and a share of decoys: rewrites of
indexed documents with a word-3-shingle Jaccard of 0.45-0.7, which often
share an LSH band with their source (so the index match has candidates to
reject) but stay below the 0.8 match threshold.

Usage: python3 gen.py --workload kg_ingest --seed 1 --out DIR
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROLES = np.array(["user", "assistant", "system", "tool"], dtype=object)
TOOLS = np.array(["search", "calculator", "browser", "interpreter"],
                 dtype=object)
HOT = "spark"
N_FILES = 8

# Sizes per workload, chosen so a run fits about a minute on a 4-core host;
# they are not taken from an observed production load.
# kg_ingest: a base 10x the batch size plus a pool of batches to append.
# dedup_ingest: an indexed corpus plus a pool of batches to ingest.
# A measured round ingests the whole pool in order.
SIZES = {
    "kg_ingest": {"base_convs": 500, "batch_convs": 50, "batches": 2},
    "dedup_ingest": {"index_docs": 2_000, "batch_docs": 100, "batches": 3},
}
TURNS_PER_CONV = (10, 40)
WORDS_PER_TURN = (8, 32)
MENTION_DENSITY = 0.05
HOT_SHARE = 0.2
DOC_WORDS = (40, 80)
PLANTED_SHARE = 0.1
DECOY_SHARE = 0.1
DECOY_JACCARD = (0.45, 0.7)
VOCAB_SIZE = 20_000


def filler_vocab(exclude: set[str]) -> np.ndarray:
    """A fixed wide vocabulary of pronounceable lowercase pseudo-words;
    independent of the seed, disjoint from the lexicon."""
    rng = np.random.default_rng(12345)
    cons = list("bcdfghjklmnprstvz")
    vows = list("aeiou")
    syll = [c + v for c in cons for v in vows]
    words: set[str] = set()
    while len(words) < VOCAB_SIZE:
        n = int(rng.integers(2, 5))
        w = "".join(syll[i] for i in rng.integers(0, len(syll), n))
        if w not in exclude:
            words.add(w)
    return np.array(sorted(words), dtype=object)


def _write_parts(table: pa.Table, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    n = table.num_rows
    step = -(-n // N_FILES)
    for i in range(N_FILES):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(out_dir,
                                              f"part-{i:02d}.parquet"))


def transcripts(rng, lexicon: dict[str, str], vocab: np.ndarray,
                conv_prefix: str, n_convs: int, out_dir: str) -> dict:
    """Write one transcript table; return its exact mention counts."""
    surfaces = np.array(sorted(lexicon), dtype=object)
    canon_names = sorted(set(lexicon.values()))
    canon_of = np.array([canon_names.index(lexicon[s]) for s in surfaces])
    hot_surface = int(np.where(surfaces == HOT)[0][0])
    cold = np.array([i for i in range(len(surfaces)) if i != hot_surface])

    # every value of TURNS_PER_CONV equally often, in random order: each
    # table of n_convs conversations has the same number of turns, so
    # per-turn figures do not move with the seed's turn count
    n_turns = rng.permutation(np.resize(np.arange(*TURNS_PER_CONV), n_convs))
    conv_ix = np.repeat(np.arange(n_convs), n_turns)
    turn_idx = np.concatenate([np.arange(k) for k in n_turns])
    n = len(conv_ix)
    n_words = rng.integers(*WORDS_PER_TURN, n)
    starts = np.concatenate([[0], np.cumsum(n_words)[:-1]])
    total = int(n_words.sum())
    # word ids: >= 0 filler, < 0 lexicon surface (-1 - surface index)
    ids = rng.integers(0, len(vocab), total)
    is_mention = rng.random(total) < MENTION_DENSITY
    ids[is_mention] = -1 - cold[rng.integers(0, len(cold),
                                             int(is_mention.sum()))]
    hot = rng.random(n) < HOT_SHARE
    hot_pos = starts + (rng.random(n) * n_words).astype(np.int64)
    ids[hot_pos[hot]] = -1 - hot_surface

    words = np.where(ids >= 0, vocab[np.maximum(ids, 0)],
                     surfaces[np.maximum(-1 - ids, 0)])
    text = np.array([" ".join(words[s:s + k])
                     for s, k in zip(starts, n_words)], dtype=object)

    # a turn's mentions are its distinct surfaces; its mention links are
    # its distinct canonical entities
    row_of_word = np.repeat(np.arange(n), n_words)
    m = ids < 0
    m_row, m_surface = row_of_word[m], -1 - ids[m]
    m_canon = canon_of[m_surface]
    turn_surface = np.unique(m_row * len(surfaces) + m_surface)
    turn_canon = np.unique(m_row * len(canon_names) + m_canon)
    hot_canon = canon_names.index(lexicon[HOT])
    counts = {
        "turns": n,
        "convs": n_convs,
        "mentions": int(len(turn_surface)),
        "mention_links": int(len(turn_canon)),
        "hot_turns": int(np.sum(turn_canon % len(canon_names)
                                == hot_canon)),
        "entities": sorted(canon_names[c]
                           for c in np.unique(m_canon).tolist()),
    }

    role_ix = rng.integers(0, 4, n)
    role = ROLES[role_ix]
    tool = np.where(role_ix == 3, TOOLS[rng.integers(0, 4, n)], None)
    conv_id = np.array([f"{conv_prefix}-{c}" for c in conv_ix],
                       dtype=object)
    ts = (np.datetime64("2024-01-01T00:00:00", "us")
          + (conv_ix * 1000 + turn_idx).astype("timedelta64[m]"))
    order = rng.permutation(n)
    table = pa.table({
        "conv_id": pa.array(conv_id[order], pa.string()),
        "turn_idx": pa.array(turn_idx[order].astype(np.int32), pa.int32()),
        "role": pa.array(role[order], pa.string()),
        "text": pa.array(text[order], pa.string()),
        "tool": pa.array(tool[order], pa.string()),
        "ts": pa.array(ts[order], pa.timestamp("us")),
    })
    _write_parts(table, out_dir)
    return counts


def _docs_table(ids: np.ndarray, texts: list[str]) -> pa.Table:
    return pa.table({"doc_id": pa.array(ids, pa.int64()),
                     "text": pa.array(texts, pa.string())})


def _near_dup(rng, words: list[str], vocab: np.ndarray) -> str:
    out = list(words)
    pos = int(rng.integers(0, len(out)))
    while True:
        w = vocab[int(rng.integers(0, len(vocab)))]
        if w != out[pos]:
            break
    out[pos] = w
    return " ".join(out)


def shingle_jaccard(a: list[str], b: list[str], k: int = 3) -> float:
    """Jaccard of the distinct word-k-shingle sets (the index's measure
    on single-space-separated lowercase text)."""
    sa = {tuple(a[i:i + k]) for i in range(len(a) - k + 1)}
    sb = {tuple(b[i:i + k]) for i in range(len(b) - k + 1)}
    return len(sa & sb) / len(sa | sb)


def _decoy(rng, words: list[str], vocab: np.ndarray) -> str:
    """Replace random words of an indexed document until its shingle
    Jaccard with the source falls inside DECOY_JACCARD."""
    out = list(words)
    while True:
        pos = int(rng.integers(0, len(out)))
        out[pos] = vocab[int(rng.integers(0, len(vocab)))]
        j = shingle_jaccard(words, out)
        if j < DECOY_JACCARD[0]:
            out = list(words)  # overshot: start again
        elif j <= DECOY_JACCARD[1]:
            return " ".join(out)


def dedup_docs(rng, vocab: np.ndarray, out: str, index_docs: int,
               batch_docs: int, batches: int) -> dict:
    def doc():
        return list(vocab[rng.integers(0, len(vocab),
                                       int(rng.integers(*DOC_WORDS)))])

    index_words = [doc() for _ in range(index_docs)]
    _write_parts(_docs_table(np.arange(index_docs),
                             [" ".join(w) for w in index_words]),
                 os.path.join(out, "index"))
    truth: dict = {"index_docs": index_docs, "batches": []}
    next_id = index_docs
    for b in range(batches):
        ids = np.arange(next_id, next_id + batch_docs)
        next_id += batch_docs
        kind = rng.random(batch_docs)
        planted = kind < PLANTED_SHARE
        decoy = (kind >= PLANTED_SHARE) & (kind < PLANTED_SHARE + DECOY_SHARE)
        texts = []
        for is_dup, is_decoy in zip(planted, decoy):
            if is_dup:
                src = int(rng.integers(0, index_docs))
                texts.append(_near_dup(rng, index_words[src], vocab))
            elif is_decoy:
                src = int(rng.integers(0, index_docs))
                texts.append(_decoy(rng, index_words[src], vocab))
            else:
                texts.append(" ".join(doc()))
        _write_parts(_docs_table(ids, texts),
                     os.path.join(out, "batches", f"b{b:02d}"))
        truth["batches"].append({
            "id": f"b{b:02d}", "docs": batch_docs, "first_id": int(ids[0]),
            "planted": ids[planted].tolist(),
            "decoys": int(decoy.sum())})
    return truth


def generate(workload: str, seed: int, out: str) -> None:
    from versa_spark.kg.extract import LEXICON
    rng = np.random.default_rng(seed)
    vocab = filler_vocab(set(LEXICON))
    size = SIZES[workload]
    os.makedirs(out, exist_ok=True)
    if workload == "dedup_ingest":
        truth = dedup_docs(rng, vocab, out, size["index_docs"],
                           size["batch_docs"], size["batches"])
    else:
        truth = {"base": transcripts(rng, LEXICON, vocab, f"s{seed}",
                                     size["base_convs"],
                                     os.path.join(out, "base")),
                 "batches": []}
        for b in range(size.get("batches", 0)):
            bid = f"b{b:02d}"
            counts = transcripts(rng, LEXICON, vocab, f"s{seed}{bid}",
                                 size["batch_convs"],
                                 os.path.join(out, "batches", bid))
            truth["batches"].append({"id": bid, **counts})
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    # the library lives at the root of the checkout, one level up
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    generate(args.workload, args.seed, args.out)


if __name__ == "__main__":
    main()
