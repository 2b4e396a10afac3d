"""Seeded near-duplicate corpus for the dedup operations of the
``olap_mix`` workload.

Words follow a Zipf law over a fixed vocabulary, so a few word
3-grams (shingles) are shared by a large share of documents: the
prefix-filter and band self-joins see the skewed keys real web text
gives them. A known fraction of documents are planted near-duplicates:
a copy of an earlier base document with a few word edits. The true
shingle Jaccard of every planted pair is computed here, in Python, so
the workload can check what the engine finds.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

N_DOCS = 1_000
SHARDS = 8               # a corpus arrives as files; one file would be one Spark task
DUP_FRAC = 0.15          # share of documents that are planted near-duplicates
VOCAB = 20_000
ZIPF_S = 1.1
LEN_RANGE = (40, 160)    # words per base document
SHINGLE_N = 3
THRESHOLD = 0.7          # Jaccard threshold of both dedup operators


def shingles(text: str, n: int = SHINGLE_N) -> set[str]:
    """Distinct word n-grams of a space-tokenised text — the shingle set
    ``operators.dedup`` builds (``split(text, ' ')`` then n-grams)."""
    words = text.split(" ")
    return {" ".join(words[i:i + n]) for i in range(len(words) - n + 1)}


def jaccard(a: set[str], b: set[str]) -> float:
    union = len(a | b)
    return len(a & b) / union if union else 0.0


def _zipf_words(rng: np.random.Generator, n: int) -> np.ndarray:
    ranks = np.arange(1, VOCAB + 1)
    p = ranks ** -ZIPF_S
    return rng.choice(VOCAB, size=n, p=p / p.sum())


def _edit(rng: np.random.Generator, words: list[str]) -> list[str]:
    """A near-copy: 1-6 single-word substitutions, insertions or deletions."""
    out = list(words)
    for _ in range(int(rng.integers(1, 7))):
        i = int(rng.integers(0, len(out)))
        w = f"w{int(_zipf_words(rng, 1)[0])}"
        kind = int(rng.integers(0, 3))
        if kind == 0:
            out[i] = w
        elif kind == 1:
            out.insert(i, w)
        elif len(out) > SHINGLE_N + 1:
            del out[i]
    return out


def make_corpus(seed: int) -> tuple[pd.DataFrame, dict[tuple[int, int], float]]:
    """(documents with ``doc_id``/``text``, planted pair -> true Jaccard).

    Pair keys are ``(id_a, id_b)`` with ``id_a < id_b``, the order the
    dedup operators emit."""
    rng = np.random.default_rng([seed, 0xDED0])
    n_dups = int(N_DOCS * DUP_FRAC)
    n_base = N_DOCS - n_dups
    lengths = rng.integers(LEN_RANGE[0], LEN_RANGE[1] + 1, n_base)
    flat = _zipf_words(rng, int(lengths.sum()))
    texts: list[list[str]] = []
    start = 0
    for ln in lengths:
        texts.append([f"w{w}" for w in flat[start:start + ln]])
        start += ln
    sources = rng.integers(0, n_base, n_dups)
    planted: dict[tuple[int, int], float] = {}
    for k, src in enumerate(sources):
        texts.append(_edit(rng, texts[src]))
        planted[(int(src), n_base + k)] = 0.0
    # shuffle ids so duplicates are not clustered at the end
    perm = rng.permutation(N_DOCS)
    docs = pd.DataFrame({
        "doc_id": perm.astype(np.int64),
        "text": [" ".join(t) for t in texts],
    })
    text_of = dict(zip(docs["doc_id"], docs["text"]))
    pairs: dict[tuple[int, int], float] = {}
    for src, dup in planted:
        a, b = sorted((int(perm[src]), int(perm[dup])))
        pairs[(a, b)] = jaccard(shingles(text_of[a]), shingles(text_of[b]))
    return docs.sort_values("doc_id", ignore_index=True), pairs


def write_corpus(seed: int, out_dir: str) -> tuple[pd.DataFrame, dict[tuple[int, int], float]]:
    """Write the corpus as ``SHARDS`` parquet files under ``out_dir``."""
    docs, pairs = make_corpus(seed)
    os.makedirs(out_dir, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(len(docs)), SHARDS)):
        docs.iloc[part].to_parquet(os.path.join(out_dir, f"part-{i:05d}.parquet"), index=False)
    return docs, pairs
