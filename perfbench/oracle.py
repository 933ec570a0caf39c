"""Independent numpy BM25 oracle that follows the index lifecycle.

Scoring is the engine's documented contract: k1=1.2, b=0.75, float64,
``idf = ln(1 + (N - df + 0.5) / (df + 0.5))``, per-term contributions
accumulated in ascending term_id order, positive terms add and negative
terms subtract, ties broken by score DESC then doc_id ASC. Every doc
that holds at least one query term is a candidate.

Statistics follow the engine's documented lifecycle semantics:

- a build or ``compact()`` sets N, avgdl and df over the documents it
  indexes;
- ``append_documents`` adds the new documents to N, avgdl and df
  exactly;
- ``delete_documents`` hides documents from results but leaves N,
  avgdl and df at their pre-delete values.

The oracle counts df itself from the generated token streams. It takes
only the engine's term_id from ``resolve_query_terms``, to fix the
accumulation order.
"""

from __future__ import annotations

import math

import numpy as np

from corpus import Docs

K1, B = 1.2, 0.75
REL_TOL = 1e-9
BLOCK = 128  # posting block size, for the blocks-in-scope count


class Oracle:
    def __init__(self, words: np.ndarray, docs_per_shard: int) -> None:
        self.word_id = {str(w): i for i, w in enumerate(words)}
        self.n_words = words.size
        self.dps = docs_per_shard
        self.doc_ids = np.empty(0, np.int64)
        self.dl = np.empty(0, np.int64)
        self.in_stats = np.empty(0, bool)  # counted in N/avgdl/df
        self.live = np.empty(0, bool)  # returned by queries
        self._pairs: list[np.ndarray] = []  # (doc row, word, tf) per batch

    # -- lifecycle -------------------------------------------------------
    def add(self, docs: Docs, doc_ids: np.ndarray) -> None:
        """Index a batch (a build, or an append epoch)."""
        base = self.doc_ids.size
        rows = np.repeat(np.arange(docs.n, dtype=np.int64), docs.lengths) + base
        key = rows * self.n_words + docs.tokens
        uniq, tf = np.unique(key, return_counts=True)
        self._pairs.append(
            np.stack([uniq // self.n_words, uniq % self.n_words, tf], axis=1)
        )
        self.doc_ids = np.concatenate([self.doc_ids, doc_ids.astype(np.int64)])
        self.dl = np.concatenate([self.dl, docs.lengths])
        self.in_stats = np.concatenate([self.in_stats, np.ones(docs.n, bool)])
        self.live = np.concatenate([self.live, np.ones(docs.n, bool)])
        self._index()

    def delete(self, doc_ids) -> None:
        self.live &= ~np.isin(self.doc_ids, np.asarray(doc_ids, np.int64))

    def compact(self) -> None:
        """Survivors only, statistics recomputed over them."""
        self.in_stats &= self.live

    def _index(self) -> None:
        pairs = np.concatenate(self._pairs)
        order = np.lexsort((pairs[:, 0], pairs[:, 1]))  # by word, then doc row
        self._rows, self._tfs = pairs[order, 0], pairs[order, 2]
        self._ptr = np.searchsorted(pairs[order, 1], np.arange(self.n_words + 1))

    # -- statistics ------------------------------------------------------
    @property
    def n_docs(self) -> int:
        return int(self.in_stats.sum())

    @property
    def avgdl(self) -> float:
        return int(self.dl[self.in_stats].sum()) / self.n_docs

    def postings(self, term: str) -> tuple[np.ndarray, np.ndarray]:
        """(doc rows, tfs) of a term over the documents in statistics."""
        w = self.word_id[term]
        rows = self._rows[self._ptr[w] : self._ptr[w + 1]]
        tfs = self._tfs[self._ptr[w] : self._ptr[w + 1]]
        keep = self.in_stats[rows]
        return rows[keep], tfs[keep]

    def df(self, term: str) -> int:
        return int(self.postings(term)[0].size)

    def df_all(self, rows: np.ndarray | None = None) -> np.ndarray:
        """df per word id over the documents in statistics, or over
        the document rows selected by the boolean mask ``rows``."""
        keep = (self.in_stats if rows is None else rows)[self._rows]
        words = np.repeat(np.arange(self.n_words), np.diff(self._ptr))
        return np.bincount(words[keep], minlength=self.n_words)

    def triples(self, term_id: dict) -> np.ndarray:
        """(term_id, doc_id, tf) over the documents in statistics, as
        three rows sorted by term_id then doc_id; ``term_id`` maps
        terms to the index's ids."""
        ids = np.array([term_id.get(str(w), -1) for w in self.word_id], np.int64)
        words = np.repeat(np.arange(self.n_words), np.diff(self._ptr))
        keep = self.in_stats[self._rows]
        out = np.stack([ids[words[keep]], self.doc_ids[self._rows[keep]],
                        self._tfs[keep]])
        return out[:, np.lexsort((out[1], out[0]))]

    def blocks_in_scope(self, terms) -> int:
        """Sum over query terms and doc shards of ceil(df_shard / 128)."""
        total = 0
        for t in terms:
            rows, _ = self.postings(t)
            per_shard = np.bincount(self.doc_ids[rows] // self.dps)
            total += int(np.ceil(per_shard[per_shard > 0] / BLOCK).sum())
        return total

    # -- scoring ---------------------------------------------------------
    def scores(self, resolved) -> tuple[np.ndarray, np.ndarray]:
        """All (doc_id, score) candidates for a resolved query:
        ``resolved`` is resolve_query_terms output
        (term, term_id, df, sign)."""
        n, avgdl = self.n_docs, self.avgdl
        per_term = []
        for term, term_id, _, sign in sorted(resolved, key=lambda r: r[1]):
            rows, tfs = self.postings(term)
            idf = math.log(1.0 + (n - rows.size + 0.5) / (rows.size + 0.5))
            per_term.append((rows, tfs, idf, float(sign)))
        cands = np.unique(np.concatenate([r for r, _, _, _ in per_term]))
        cands = cands[self.live[cands]]
        dl = self.dl[cands]
        score = np.zeros(cands.size, np.float64)
        for rows, tfs, idf, sign in per_term:
            p = np.minimum(np.searchsorted(rows, cands), max(rows.size - 1, 0))
            hit = rows[p] == cands if rows.size else np.zeros(cands.size, bool)
            tf = np.zeros(cands.size, np.float64)
            tf[hit] = tfs[p[hit]]
            has = tf > 0
            score[has] += sign * (
                idf * (tf[has] * (K1 + 1.0))
                / (tf[has] + K1 * (1.0 - B + B * dl[has] / avgdl))
            )
        return self.doc_ids[cands], score

    def mismatch(self, resolved, rows, k: int) -> str | None:
        """None when ``rows`` [(doc_id, score)] is the exact top-k of
        ``resolved``; otherwise a description of the first difference.
        Doc ids must match rank for rank, except between documents the
        oracle scores equal within REL_TOL."""
        for term, _, df, _ in resolved:
            if df != self.df(term):
                return f"df({term}) engine {df} != oracle {self.df(term)}"
        ids, score = self.scores(resolved)
        order = np.lexsort((ids, -score))[:k]
        want = list(zip(ids[order].tolist(), score[order].tolist()))
        if len(rows) != len(want):
            return f"{len(rows)} rows, oracle {len(want)}"
        by_id = dict(zip(ids.tolist(), score.tolist()))
        seen = set()
        for rank, ((doc, s), (odoc, os_)) in enumerate(zip(rows, want)):
            if doc in seen or not _close(s, os_):
                return f"rank {rank}: engine ({doc}, {s!r}) oracle ({odoc}, {os_!r})"
            if doc != odoc and not _close(by_id.get(doc, math.nan), os_):
                return f"rank {rank}: engine doc {doc} oracle doc {odoc}"
            seen.add(doc)
        return None


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= REL_TOL * max(abs(a), abs(b), 1e-300)
