"""Seeded query streams.

Terms are drawn Zipf(s=1.07) over the corpus generator's ``vocabulary()`` —
the same law the pages were written with — so a stream mixes head terms
with giant posting lists and tail terms with short ones, which is what
list-intersection cost depends on. Phrases are 2-3 adjacent analyzed tokens
of corpus documents, so they hit. Websearch queries carry a ``-term``
negation, some around a quoted phrase.

An operation is ``(kind, query)`` with kind one of:

- ``and``    conjunctive BM25 (``bm25_topk_wand`` / ``ServingIndex.search``)
- ``or``     disjunctive BM25 (``mode="or"``)
- ``web``    websearch syntax (``bm25_topk_websearch`` / ``search_websearch``)
- ``phrase`` exact phrase (``bm25_topk_phrase`` / ``search_phrase``)
"""

from __future__ import annotations

import math

import numpy as np

KINDS = ("and", "or", "web", "phrase")
ZIPF_S = 1.07


# one dimension per random choice an operation makes
_DIMS = ("n_terms", "t1", "t2", "t3", "neg", "doc", "plen", "pstart", "shape", "quote")
_STRIDES = [math.sqrt(p) % 1.0 for p in (2, 3, 5, 7, 11, 13, 17, 19, 23, 29)]


class QueryStream:
    """Operation i draws its choices from a Kronecker sequence (one
    irrational stride per dimension) shifted by seeded offsets: randomized
    quasi-Monte Carlo. Every seed gives different queries, but the mix of
    term ranks, term counts and shapes stays nearly the same from seed to
    seed, so a run's cost does not swing with a few lucky or unlucky
    draws."""

    def __init__(self, seed: int, phrase_sources: list[list[str]]):
        from honeywell_search_engine_spark.sources.pages import vocabulary

        rng = np.random.default_rng(seed)
        self.offsets = rng.random(len(_DIMS))
        self.vocab = vocabulary()
        ranks = np.arange(1, len(self.vocab) + 1, dtype=np.float64)
        p = ranks ** (-ZIPF_S)
        self.cum = np.cumsum(p / p.sum())
        self.sources = [s for s in phrase_sources if len(s) >= 3]
        self.i = 0

    def _u(self, dim: str) -> float:
        d = _DIMS.index(dim)
        return (self.offsets[d] + self.i * _STRIDES[d]) % 1.0

    def _pick(self, dim: str, n: int) -> int:
        return min(int(self._u(dim) * n), n - 1)

    def term(self, dim: str) -> str:
        r = int(np.searchsorted(self.cum, self._u(dim), side="right"))
        return self.vocab[min(r, len(self.vocab) - 1)]

    def terms(self, n: int) -> list[str]:
        return [self.term(d) for d in ("t1", "t2", "t3")[:n]]

    def phrase(self) -> list[str]:
        toks = self.sources[self._pick("doc", len(self.sources))]
        n = 2 + self._pick("plen", 2)
        start = self._pick("pstart", len(toks) - n + 1)
        return toks[start:start + n]

    def query(self, kind: str) -> str:
        if kind == "and":
            return " ".join(self.terms(1 + self._pick("n_terms", 3)))
        if kind == "or":
            return " ".join(self.terms(2 + self._pick("n_terms", 2)))
        if kind == "phrase":
            return " ".join(self.phrase())
        pos = self.phrase() if self._u("shape") < 0.5 else self.terms(1 + self._pick("n_terms", 2))
        neg = self.term("neg")
        if neg in pos:  # `a -a` is a contradiction that never reaches the engine
            neg = next(t for t in self.vocab if t not in pos)
        quoted = len(pos) > 1 and self._u("quote") < 0.5
        body = f'"{" ".join(pos)}"' if quoted else " ".join(pos)
        return f"{body} -{neg}"

    def ops(self, n: int, kinds=KINDS) -> list[tuple[str, str]]:
        """The next n operations, cycling through `kinds` in order, so every
        stream has the same mix whatever the seed."""
        out = []
        for _ in range(n):
            kind = kinds[self.i % len(kinds)]
            out.append((kind, self.query(kind)))
            self.i += 1
        return out


def oracle_answer(oracle, kind: str, q: str, k: int) -> list[tuple[int, float]]:
    if kind == "and":
        return oracle.search(q, k=k)
    if kind == "or":
        return oracle.search_or(q, k=k)
    if kind == "web":
        return oracle.search_websearch(q, k=k)
    return oracle.search_phrase(q, k=k)


def local_answer(index, kind: str, q: str, k: int) -> list[tuple[int, float]]:
    """Answer through a ServingIndex or GenerationSet (same query surface)."""
    if kind == "and":
        return index.search(q, k=k)
    if kind == "or":
        return index.search(q, k=k, mode="or")
    if kind == "web":
        return index.search_websearch(q, k=k)
    return index.search_phrase(q, k=k)


def analyze(kind: str, q: str):
    """The query-analysis step each entry point performs first."""
    from honeywell_search_engine_spark.functions import analyzer as A

    if kind in ("and", "or"):
        return A.analyze_query(q)
    if kind == "web":
        return A.parse_websearch_query(q)
    return A.tokenize(q)


def query_terms(kind: str, q: str) -> set[str]:
    """Every index term the query touches, negated ones included."""
    a = analyze(kind, q)
    if kind == "web":
        return {t for group in a for t in list(group[0]) + list(group[1])}
    return set(a)


def normalize(rows) -> list[tuple[int, float]]:
    """(docid, score) pairs as exact Python ints and floats."""
    return [(int(d), float(s)) for d, s in rows]
