"""End-to-end: the segment engine run exhaustively — k at least the corpus
size, so the top-k threshold never rises and no block or candidate is
pruned — is rank- and bit-identical to the pure-Python oracle over EVERY
match of the 20-query reference set (FIXTURES.md §3). This exhaustive run
replaces the separate Catalyst engine the suite once checked; the pruned
top-10 is pinned by test_segments.py."""

import pytest

from honeywell_search_engine_spark.query.wand import bm25_topk_wand
from honeywell_search_engine_spark.sources.pages import reference_queries

QUERIES = reference_queries()


def _exhaustive(index, q):
    n = index.stats.n_docs
    return [(r["docid"], r["score"]) for r in bm25_topk_wand(index, q, k=n).collect()]


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_rank_identity(seg_index, oracle, name):
    q = QUERIES[name]
    exp = oracle.search(q, k=oracle.n_docs)
    got = _exhaustive(seg_index, q)
    assert [d for d, _ in got] == [d for d, _ in exp], f"{name}: docid ranks differ"
    for (ed, es), (gd, gs) in zip(exp, got):
        assert gs == pytest.approx(es, rel=1e-9), f"{name}: score for doc {ed}"


def test_bit_exact_scores(seg_index, oracle):
    """Determinism contract: identical float64 bits for every match
    (lexicographic term-sum order both sides)."""
    for name in ("q01", "q06", "q10", "q12", "q17"):
        q = QUERIES[name]
        assert _exhaustive(seg_index, q) == oracle.search(q, k=oracle.n_docs), name
