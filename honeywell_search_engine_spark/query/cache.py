"""Driver-side query result cache.

The reference's latency target explicitly assumes result caching
("Search latency (p95) < 500 ms — HNSW index, result caching",
reference PIPELINE.md:349); real query streams are heavily repeated, so
the serving layer memoizes COLLECTED top-k results per (query, k, mode).

Misses are served by one in-process serving node (query/local.ServingIndex
— bit-exact with the Spark plans, tested): a pruned Arrow read + numpy
kernels, never a Spark job. Safety: a ServingIndex is a snapshot of one
index generation — merges/compactions mutate the directory only through
staged swaps that the node must be reloaded to observe — so the cache
never serves a result the node would not; ``reload`` drops both together.
The cache keys nothing on corpus stats: they are frozen in the same node.
"""

from __future__ import annotations

from collections import OrderedDict

from honeywell_search_engine_spark.index.segments import SegmentIndex
from honeywell_search_engine_spark.query.local import ServingIndex


class CachedSearcher:
    """LRU memo over the serving query surface of `index`'s directory
    (query/local.QuerySurface); each miss runs on an in-process
    ServingIndex opened on ``index.path``."""

    def __init__(self, index: SegmentIndex, capacity: int = 1024):
        self.index = index
        self.capacity = capacity
        self._lru: OrderedDict[tuple, list] = OrderedDict()
        self.hits = 0
        self.misses = 0
        self._local = ServingIndex(index.path)

    def reload(self, index: SegmentIndex | None = None) -> "CachedSearcher":
        """Refresh after on-disk maintenance: drop every memoized result
        (they may reflect the pre-maintenance corpus) and reload the
        serving node — on ``index.path`` when `index` is given (an
        attached docs store stays attached)."""
        self._lru.clear()
        if index is not None:
            self.index = index
            self._local.path = index.path
        self._local.reload()
        return self

    def _get(self, key, compute):
        if key in self._lru:
            self._lru.move_to_end(key)
            self.hits += 1
            return self._lru[key]
        self.misses += 1
        rows = compute()
        self._lru[key] = rows
        if len(self._lru) > self.capacity:
            self._lru.popitem(last=False)
        return rows

    def search(self, query: str, k: int = 10, mode: str = "and") -> list:
        """[(docid, score)] — memoized."""
        return self._get(("q", query, k, mode), lambda: self._local.search(query, k, mode))

    def search_websearch(self, query: str, k: int = 10) -> list:
        """Full websearch surface (quotes + '-term'), memoized."""
        return self._get(("w", query, k), lambda: self._local.search_websearch(query, k))

    def search_phrase(self, phrase: str, k: int = 10, slop: int = 0) -> list:
        return self._get(("p", phrase, k, slop), lambda: self._local.search_phrase(phrase, k, slop))

    def search_near_unordered(self, query: str, k: int = 10, dist: int = 3) -> list:
        return self._get(
            ("nu", query, k, dist), lambda: self._local.search_near_unordered(query, k, dist)
        )

    def attach_docs(
        self, docs_path: str, id_col: str = "docid", text_col: str = "text"
    ) -> None:
        """Attach the forward text store for search_response."""
        self._local.attach_docs(docs_path, id_col, text_col)

    def search_response(
        self,
        query: str,
        k: int = 10,
        mode: str = "and",
        rerank_from: int | None = None,
    ) -> list:
        """Full response rows (ServingIndex.search_response), memoized —
        the reference's result cache sits exactly here: the cached value
        IS the API row the serving process returns (reference
        PIPELINE.md result-caching note)."""
        return self._get(
            ("r", query, k, mode, rerank_from),
            lambda: self._local.search_response(query, k=k, mode=mode, rerank_from=rerank_from),
        )

    def warm(self, query_log) -> int:
        """Pre-warm the cache from a query log — the standard serving-node
        start-up step: replay yesterday's head queries before taking
        traffic so the first real user never pays the cold path. Entries
        are (kind, args...) tuples mirroring the public surface, or bare
        strings (treated as AND searches):

            ("q", query[, k[, mode]])  -> search
            ("w", query[, k])          -> search_websearch
            ("p", phrase[, k[, slop]]) -> search_phrase
            ("nu", query[, k[, dist]]) -> search_near_unordered
            ("r", query[, k])          -> search_response (docs attached)

        Returns the number of entries computed (misses); duplicates and
        already-cached entries cost one LRU hit each. Cold start is
        decode + pyarrow-read dominated, so warming also populates the
        underlying ServingIndex decoded-postings LRU — steady-state
        latency from the first query."""
        before = self.misses
        for entry in query_log:
            if isinstance(entry, str):
                entry = ("q", entry)
            kind, args = entry[0], list(entry[1:])
            if kind == "q":
                self.search(*args)
            elif kind == "w":
                self.search_websearch(*args)
            elif kind == "p":
                self.search_phrase(*args)
            elif kind == "nu":
                self.search_near_unordered(*args)
            elif kind == "r":
                self.search_response(*args)
            else:
                raise ValueError(f"unknown query-log kind: {kind!r}")
        return self.misses - before
