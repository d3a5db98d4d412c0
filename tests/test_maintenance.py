"""Deletion (tombstones) + compaction: queries exclude dead docs
immediately; compaction folds them in and matches a from-scratch rebuild
of the reduced corpus (scores included, since stats shift)."""

import json

import pyarrow.parquet as pq
import pytest

from honeywell_search_engine_spark.index.corpus import docid_py, docs_from_pages, tokenized_docs
from honeywell_search_engine_spark.index.maintenance import compact, delete_docs
from honeywell_search_engine_spark.index.segments import SegmentIndex, build_segments
from honeywell_search_engine_spark.oracle import OracleIndex
from honeywell_search_engine_spark.query.wand import bm25_topk_wand
from honeywell_search_engine_spark.sources.pages import marker_term, read_pages


@pytest.fixture()
def small_index(spark, pages_path, tmp_path):
    out = str(tmp_path / "idx")
    pages = read_pages(spark, pages_path)
    tok = tokenized_docs(docs_from_pages(pages))
    build_segments(tok, out, pages_path, n_buckets=8, n_shards=4, buckets_per_job=8)
    return SegmentIndex(spark, out)


def test_tombstone_then_compact(spark, small_index, pages_pdf, oracle):
    q = marker_term(0)
    before = [r["docid"] for r in bm25_topk_wand(small_index, q, k=100).collect()]
    assert before
    victims = before[:2]

    # 1) tombstones take effect immediately (no rewrite)
    delete_docs(small_index.path, victims, reason="test")
    idx2 = SegmentIndex(spark, small_index.path)
    after = [r["docid"] for r in bm25_topk_wand(idx2, q, k=100).collect()]
    assert set(after) == set(before) - set(victims)

    # OR mode also filters
    after_or = [
        r["docid"] for r in bm25_topk_wand(idx2, q, k=100, mode="or").collect()
    ]
    assert set(after_or) == set(before) - set(victims)

    # 2) compaction folds tombstones in; scores equal a from-scratch oracle
    # built on the reduced corpus (N and df change!)
    summary = compact(spark, small_index.path)
    assert summary["compacted"] == 2
    idx3 = SegmentIndex(spark, small_index.path)
    assert not idx3.tombstones
    assert idx3.stats.n_docs == small_index.stats.n_docs - 2

    en = pages_pdf[pages_pdf.lang == "en"]
    reduced = [
        (docid_py(u), t)
        for u, t in zip(en.url, en.text)
        if docid_py(u) not in set(victims)
    ]
    reduced_oracle = OracleIndex.build(reduced)
    exp = reduced_oracle.search(q, k=10)
    got = [(r["docid"], r["score"]) for r in bm25_topk_wand(idx3, q, k=10).collect()]
    assert got == exp

    # 3) the rewritten term dictionary keeps the build's invariants: sorted
    # by term (term_info / suggest prune row groups by it), and finalize's
    # n_postings counts the surviving postings
    terms = pq.read_table(f"{idx3.path}/term_stats", columns=["term"])
    terms = terms.column("term").to_pylist()
    assert terms == sorted(terms)
    with open(f"{idx3.path}/manifests/finalize.json") as f:
        n_postings = json.load(f)["n_postings"]
    seg_n = pq.read_table(f"{idx3.path}/segments", columns=["n"]).column("n")
    assert n_postings == sum(seg_n.to_pylist())


def test_bulk_tombstones_100k(spark, small_index, pages_pdf, oracle):
    """A 100k-id tombstone set (retention churn at scale) must (a) never
    become a Catalyst literal list or per-task closure set — kernels get a
    broadcast numpy array, compact anti-joins a DataFrame — and (b) leave
    results exactly equal to a from-scratch oracle on the reduced corpus.
    Most of the 100k ids don't exist in the index; N must only drop by the
    ones that do."""
    q = marker_term(0)
    before = [r["docid"] for r in bm25_topk_wand(small_index, q, k=100).collect()]
    victims = before[:2]
    bulk = victims + list(range(10_000_000, 10_100_000))  # 2 real + ~100k fake
    delete_docs(small_index.path, bulk, reason="bulk churn")

    # query-time: broadcast tombstone array filters, AND + OR paths
    idx2 = SegmentIndex(spark, small_index.path)
    assert len(idx2.tombstones) == len(bulk)
    after = [r["docid"] for r in bm25_topk_wand(idx2, q, k=100).collect()]
    assert set(after) == set(before) - set(victims)
    after_or = [
        r["docid"] for r in bm25_topk_wand(idx2, q, k=100, mode="or").collect()
    ]
    assert set(after_or) == set(before) - set(victims)

    # compact: anti-join path; only the 2 real docs leave N
    summary = compact(spark, small_index.path)
    assert summary["compacted"] == 2
    idx3 = SegmentIndex(spark, small_index.path)
    assert idx3.stats.n_docs == small_index.stats.n_docs - 2

    en = pages_pdf[pages_pdf.lang == "en"]
    reduced = [
        (docid_py(u), t)
        for u, t in zip(en.url, en.text)
        if docid_py(u) not in set(victims)
    ]
    exp = OracleIndex.build(reduced).search(q, k=10)
    got = [(r["docid"], r["score"]) for r in bm25_topk_wand(idx3, q, k=10).collect()]
    assert got == exp


@pytest.mark.parametrize("fail_at", ["staged", "mid_swap"])
def test_compact_crash_resume(spark, pages_path, pages_pdf, tmp_path, fail_at):
    """Kill the compaction between staging and commit steps; a plain re-run
    converges to the same stats and query results as an uninterrupted
    compaction (the journal carries n_removed across the crash — after the
    swap the dead docs are gone from the docmap and could not be
    recounted)."""
    from honeywell_search_engine_spark.index.corpus import docs_from_pages, tokenized_docs
    from honeywell_search_engine_spark.sources.pages import read_pages

    out = str(tmp_path / "idx")
    pages = read_pages(spark, pages_path)
    build_segments(
        tokenized_docs(docs_from_pages(pages)), out, pages_path,
        n_buckets=8, n_shards=4, buckets_per_job=8,
    )
    idx0 = SegmentIndex(spark, out)
    q = marker_term(0)
    victims = [r["docid"] for r in bm25_topk_wand(idx0, q, k=2).collect()]
    delete_docs(out, victims, reason="crash test")

    with pytest.raises(RuntimeError, match="injected failure"):
        compact(spark, out, _fail_at=fail_at)
    summary = compact(spark, out)  # plain re-run resumes/redoes
    assert summary["compacted"] == 2

    idx = SegmentIndex(spark, out)
    assert not idx.tombstones
    assert idx.stats.n_docs == idx0.stats.n_docs - 2
    en = pages_pdf[pages_pdf.lang == "en"]
    from honeywell_search_engine_spark.index.corpus import docid_py

    reduced = OracleIndex.build(
        [
            (docid_py(u), t)
            for u, t in zip(en.url, en.text)
            if docid_py(u) not in set(victims)
        ]
    )
    got = [(r["docid"], r["score"]) for r in bm25_topk_wand(idx, q, k=10).collect()]
    assert got == reduced.search(q, k=10)


def test_compact_resume_keeps_tombstones_issued_after_staging(
    spark, pages_path, pages_pdf, tmp_path
):
    """Regression (round-2 advice, maintenance._finish_compact): a
    delete_docs landing between a crash at 'staged' and the resumed
    commit must NOT be wiped by the resume — the doc stays filtered at
    query time and the NEXT compaction folds it in. The journal records
    the exact tombstone files staged; finish removes only those."""
    out = str(tmp_path / "idx")
    pages = read_pages(spark, pages_path)
    build_segments(
        tokenized_docs(docs_from_pages(pages)), out, pages_path,
        n_buckets=8, n_shards=4, buckets_per_job=8,
    )
    idx0 = SegmentIndex(spark, out)
    q = marker_term(0)
    hits = [r["docid"] for r in bm25_topk_wand(idx0, q, k=100).collect()]
    assert len(hits) >= 3
    v1, v2 = hits[:2], hits[2:3]

    delete_docs(out, v1, reason="first wave")
    with pytest.raises(RuntimeError, match="injected failure"):
        compact(spark, out, _fail_at="staged")
    delete_docs(out, v2, reason="landed during the crash window")

    summary = compact(spark, out)  # resumes the staged commit (v1 only)
    assert summary["compacted"] == 2
    idx1 = SegmentIndex(spark, out)
    # v2's tombstone survived the resume: doc filtered immediately
    assert set(idx1.tombstones) == set(v2)
    after = [r["docid"] for r in bm25_topk_wand(idx1, q, k=100).collect()]
    assert set(after) == set(hits) - set(v1) - set(v2)

    # and the next compaction folds v2 in
    summary2 = compact(spark, out)
    assert summary2["compacted"] == 1
    idx2 = SegmentIndex(spark, out)
    assert not idx2.tombstones
    assert idx2.stats.n_docs == idx0.stats.n_docs - 3
