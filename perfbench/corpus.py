"""Seeded Zipf web-page corpus and keyword-query generator.

Terms are distinct lowercase ASCII letter strings of 3-15 characters,
so the engine's tokenizer (lowercase, alphabetic runs, 2 <= len <= 15)
reduces every document to exactly its whitespace split and the oracle
needs no tokenizer. Term frequencies follow Zipf(s) over the
vocabulary rank; document lengths are lognormal.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))
_GOLDEN = (5**0.5 - 1) / 2


def vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    """``size`` distinct terms; position i is Zipf rank i. Lengths are
    fixed by rank (3 at the head, rising by one per doubling of rank, at
    most 15), so frequent terms are short, as in text, and the corpus's
    bytes per token do not depend on the seed; only letters are drawn."""
    seen: set[str] = set()
    out: list[str] = []
    while len(out) < size:
        n = min(15, 3 + int(np.log2(len(out) + 1)))
        term = "".join(rng.choice(_LETTERS, n))
        if term not in seen:
            seen.add(term)
            out.append(term)
    return np.array(out, dtype=object)


@dataclass
class Docs:
    """A batch of documents as token streams over a shared vocabulary."""

    words: np.ndarray  # vocabulary, index = word id
    offsets: np.ndarray  # token offsets, len n_docs + 1
    tokens: np.ndarray  # word id per token

    @property
    def n(self) -> int:
        return self.offsets.size - 1

    @property
    def lengths(self) -> np.ndarray:
        return np.diff(self.offsets)

    def texts(self) -> list[str]:
        w, o = self.words[self.tokens], self.offsets
        return [" ".join(w[o[i] : o[i + 1]]) for i in range(self.n)]

    def to_parquet(self, path: str, doc_ids: np.ndarray) -> int:
        """Write (doc_id, text) and return the UTF-8 text bytes."""
        texts = self.texts()
        pd.DataFrame({"doc_id": doc_ids.astype(np.int64), "text": texts}).to_parquet(
            path, index=False
        )
        return sum(len(t) for t in texts)  # ASCII: chars == bytes


class ZipfSource:
    """Draws document batches from one seeded Zipf(s) vocabulary."""

    def __init__(
        self,
        rng: np.random.Generator,
        vocab_size: int,
        s: float = 1.1,
        len_mu: float = 4.2,
        len_sigma: float = 0.6,
    ) -> None:
        self.rng = rng
        self.words = vocabulary(rng, vocab_size)
        p = 1.0 / np.arange(1, vocab_size + 1) ** s
        self.p = p / p.sum()
        self.len_mu, self.len_sigma = len_mu, len_sigma

    def docs(self, n: int) -> Docs:
        lengths = np.clip(
            self.rng.lognormal(self.len_mu, self.len_sigma, n).astype(np.int64),
            1,
            4000,
        )
        tokens = self.rng.choice(self.words.size, size=int(lengths.sum()), p=self.p)
        offsets = np.concatenate(([0], np.cumsum(lengths)))
        return Docs(self.words, offsets, tokens)


@dataclass(frozen=True)
class Query:
    pos: tuple[str, ...]
    neg: tuple[str, ...] = ()


def queries(words: np.ndarray, df: np.ndarray, n: int) -> list[Query]:
    """``n`` keyword queries over the terms with ``df >= 1``, in a fixed
    pattern: query i has 1 + i % 5 terms, its j-th term comes from df
    band (i + j) % 3 (head: top 1 %, mid: next 19 %, tail: the rest),
    and one in four multi-term queries, a fifth of all, makes its last
    term negative. Within a band, terms are taken at df positions from a
    golden-ratio sequence. Zipf df depends on rank, not on the seed, so
    every seed gets queries of the same cost profile; the seed changes
    only which words they are."""
    present = np.flatnonzero(df > 0)
    by_df = present[np.argsort(-df[present], kind="stable")]
    head_end = max(1, by_df.size // 100)
    mid_end = max(head_end + 1, by_df.size // 5)
    bands = [by_df[:head_end], by_df[head_end:mid_end], by_df[mid_end:]]
    out = []
    m = 0
    for i in range(n):
        n_terms = 1 + i % 5
        picked: list[int] = []
        while len(picked) < n_terms:
            band = bands[(i + len(picked)) % 3]
            m += 1
            w = int(band[int((m * _GOLDEN) % 1.0 * band.size)])
            if w not in picked:
                picked.append(w)
        terms = [str(words[w]) for w in picked]
        if n_terms > 1 and (i // 5) % 4 == 1:
            out.append(Query(tuple(terms[:-1]), (terms[-1],)))
        else:
            out.append(Query(tuple(terms)))
    return out
