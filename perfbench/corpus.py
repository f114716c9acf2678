"""Seeded inputs for the benchmark: pseudo-word vocabularies, corpora,
query mixes and typos.

Terms are lowercase ASCII pseudo-words built from consonant-vowel
syllables, so they spread over many 2-character prefixes (the fuzzy
expansion's bucket key) the way real words do, and the DuckDB oracle
tokenizes them exactly as the engine does.  Everything is a pure function
of the seed: the same seed gives byte-identical inputs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

CONSONANTS = list("bcdfghjklmnprstvz")
VOWELS = list("aeiou")
LETTERS = "abcdefghijklmnopqrstuvwxyz"


def pseudo_words(rng: np.random.Generator, n: int, syllables=(2, 4)) -> list[str]:
    """``n`` distinct pseudo-words of 2-4 consonant-vowel syllables."""
    seen: dict[str, None] = {}
    while len(seen) < n:
        k = int(rng.integers(syllables[0], syllables[1] + 1))
        w = "".join(
            CONSONANTS[int(rng.integers(len(CONSONANTS)))]
            + VOWELS[int(rng.integers(len(VOWELS)))]
            for _ in range(k)
        )
        seen.setdefault(w, None)
    return list(seen)


def zipf_weights(n: int, s: float) -> np.ndarray:
    w = np.arange(1, n + 1, dtype=np.float64) ** (-s)
    return w / w.sum()


def documents(
    rng: np.random.Generator,
    vocab: list[str],
    weights: np.ndarray,
    n_docs: int,
    first_id: int,
    length=(15, 60),
    marker: str | None = None,
    marker_every: int = 1,
) -> pd.DataFrame:
    """Documents in the harness ``documents`` schema.  ``marker`` (a term
    absent from ``vocab``) is prepended to every ``marker_every``-th text,
    so a query for it finds exactly those documents."""
    lens = rng.integers(length[0], length[1] + 1, n_docs)
    draws = rng.choice(len(vocab), size=int(lens.sum()), p=weights)
    words = np.asarray(vocab, dtype=object)[draws]
    texts, pos = [], 0
    for i, n in enumerate(lens):
        body = " ".join(words[pos:pos + n])
        texts.append(f"{marker} {body}" if marker and i % marker_every == 0 else body)
        pos += n
    return pd.DataFrame(
        {
            "doc_id": np.arange(first_id, first_id + n_docs, dtype=np.int64),
            "text": texts,
            "lang": "en",
            "source": "perfbench",
            "n_chars": np.fromiter((len(t) for t in texts), np.int64, n_docs),
        }
    )


def typo(rng: np.random.Generator, word: str, vocab: set[str]) -> str:
    """One substitution at position ≥ 2 (the 2-char prefix bucket is kept,
    so fuzzy expansion can find the original), never yielding a vocabulary
    word."""
    while True:
        i = int(rng.integers(2, len(word)))
        c = LETTERS[int(rng.integers(len(LETTERS)))]
        out = word[:i] + c + word[i + 1:]
        if c != word[i] and out not in vocab:
            return out


def query_terms(
    rng: np.random.Generator, vocab: list[str], weights: np.ndarray, n: int
) -> list[str]:
    idx = rng.choice(len(vocab), size=n, replace=False, p=weights)
    return [vocab[int(i)] for i in idx]
