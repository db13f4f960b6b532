"""Seeded text corpus for the ``index_corpus`` workload, with its expected
inverted index computed in pure Python (numpy), independently of Spark.

Each document holds ``tokens_per_doc`` tokens drawn Zipf(1.2) from a random
vocabulary of lowercase words. Some tokens are decorated so that the
engine's normalisation (lowercase, then strip everything outside ``[a-z]``)
has work to do: a capitalised or punctuated token normalises back to its
vocabulary word, and an all-digit token normalises to the empty word, which
is never indexed.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

ZIPF_S = 1.2
LETTERS = "abcdefghijklmnopqrstuvwxyz"
_PUNCT = np.array(list(",.;:!?)\"'"))


@dataclass
class Corpus:
    """Documents as vocabulary ids (``-1`` = a token that normalises to
    nothing) plus the vocabulary. ``docs[i]`` is 1-based document ``i + 1``."""

    vocab: np.ndarray  # str array, all words distinct, [a-z]+
    docs: list[np.ndarray]

    def pairs(self) -> np.ndarray:
        """Distinct ``word_id * n + i`` keys for 0-based document ``i``,
        ascending, where ``n = len(docs)``: the (word, doc) set sorted by
        word, then doc."""
        n = len(self.docs)
        keys = [
            np.unique(d[d >= 0]).astype(np.int64) * n + i
            for i, d in enumerate(self.docs)
        ]
        return np.unique(np.concatenate(keys))


def generate(rng: np.random.Generator, n_docs: int, tokens_per_doc: int,
             vocab_size: int) -> Corpus:
    vocab: dict[str, None] = {}  # insertion-ordered set
    while len(vocab) < vocab_size:
        lens = rng.integers(3, 11, size=vocab_size)
        chars = rng.integers(0, 26, size=(vocab_size, 10))
        for ln, row in zip(lens, chars):
            vocab["".join(LETTERS[c] for c in row[:ln])] = None
            if len(vocab) == vocab_size:
                break
    # random words, so Zipf rank is unrelated to spelling and all 26
    # letters are used
    words = np.array(list(vocab))
    p = np.arange(1, vocab_size + 1, dtype=np.float64) ** -ZIPF_S
    p /= p.sum()
    docs = []
    for _ in range(n_docs):
        ids = rng.choice(vocab_size, size=tokens_per_doc, p=p).astype(np.int64)
        ids[rng.random(tokens_per_doc) < 0.01] = -1
        docs.append(ids)
    return Corpus(words, docs)


def render(rng: np.random.Generator, corpus: Corpus, doc: int) -> str:
    """Text of 0-based document ``doc``: whitespace-separated tokens, a
    newline every 12 tokens, 5% capitalised and 5% punctuated tokens."""
    ids = corpus.docs[doc]
    n = len(ids)
    toks = corpus.vocab[np.maximum(ids, 0)].astype(object)
    cap = rng.random(n) < 0.05
    toks[cap] = [t.capitalize() for t in toks[cap]]
    punct = rng.random(n) < 0.05
    toks[punct] = toks[punct] + _PUNCT[rng.integers(0, len(_PUNCT), punct.sum())]
    digits = ids < 0
    toks[digits] = rng.integers(0, 10_000, digits.sum()).astype(str)
    lines = [" ".join(toks[i : i + 12]) for i in range(0, n, 12)]
    return "\n".join(lines) + "\n"


def write(rng: np.random.Generator, corpus: Corpus, out_dir: str,
          first: int, count: int) -> str:
    """Write documents ``first .. first + count - 1`` (0-based) as text files
    plus a reference-format manifest (``N`` then ``N`` relative paths);
    returns the manifest path. Manifest position ``k`` is doc id ``k``."""
    os.makedirs(out_dir, exist_ok=True)
    names = []
    for d in range(first, first + count):
        name = f"doc{d:05d}.txt"
        with open(os.path.join(out_dir, name), "w") as fh:
            fh.write(render(rng, corpus, d))
        names.append(name)
    manifest = os.path.join(out_dir, "manifest.txt")
    with open(manifest, "w") as fh:
        fh.write(f"{len(names)}\n" + "\n".join(names) + "\n")
    return manifest


def expected_letter_lines(corpus: Corpus) -> dict[str, list[str]]:
    """Letter -> ``word:[d1 d2 ...]`` lines in the reference's order:
    ``n_docs`` descending, then word ascending; doc ids ascending."""
    n = len(corpus.docs)
    keys = corpus.pairs()
    word_ids, starts, counts = np.unique(keys // n, return_index=True, return_counts=True)
    docs = (keys % n + 1).astype(str)
    entries = [
        (corpus.vocab[w], s, c) for w, s, c in zip(word_ids, starts, counts)
    ]
    entries.sort(key=lambda e: (-e[2], e[0]))
    out: dict[str, list[str]] = {c: [] for c in LETTERS}
    for word, s, c in entries:
        out[word[0]].append(f"{word}:[{' '.join(docs[s : s + c])}]")
    return out
