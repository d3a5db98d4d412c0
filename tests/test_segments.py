"""Segment index: WAND engine rank/bit identity, resume, invariance."""

import json
import os
import shutil

import pytest

from honeywell_search_engine_spark.index.corpus import docs_from_pages, tokenized_docs
from honeywell_search_engine_spark.index.segments import (
    SegmentIndex,
    build_segments,
    bucket_checksum,
)
from honeywell_search_engine_spark.query.wand import bm25_topk_wand
from honeywell_search_engine_spark.sources.pages import read_pages, reference_queries

QUERIES = reference_queries()


def _build(spark, pages_path, out, **kw):
    pages = read_pages(spark, pages_path)
    tok = tokenized_docs(docs_from_pages(pages))
    build_segments(tok, out, pages_path, **kw)
    return SegmentIndex(spark, out)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_wand_bit_identical_to_oracle(seg_index, oracle, name):
    q = QUERIES[name]
    exp = oracle.search(q, k=10)
    got = [
        (r["docid"], r["score"]) for r in bm25_topk_wand(seg_index, q, k=10).collect()
    ]
    assert got == exp, name  # bit-exact scores AND identical ranks


def test_corpus_stats_match(seg_index, oracle):
    assert seg_index.stats.n_docs == oracle.n_docs
    assert seg_index.stats.avgdl == pytest.approx(oracle.avgdl, rel=1e-12)


def test_marker_query_exact_docset(seg_index, pages_pdf):
    """Planted marker terms hit exactly the docs they were planted in."""
    from honeywell_search_engine_spark.index.corpus import docid_py
    from honeywell_search_engine_spark.sources.pages import marker_term

    en = pages_pdf[pages_pdf.lang == "en"]
    expected = {
        docid_py(row.url)
        for i, row in en.iterrows()
        if marker_term(0) in row.text.lower()
    }
    got = {r["docid"] for r in bm25_topk_wand(seg_index, marker_term(0), k=10**4).collect()}
    assert got == expected and got


def test_wand_equals_naive(seg_index):
    """WAND pruning is lossless vs the naive exhaustive run: the pruned
    top-10 is the head of the full ranked list (k = corpus size, where the
    threshold never rises and nothing is skipped)."""
    n = seg_index.stats.n_docs
    n_matches = []
    for name in ("q01", "q06", "q10", "q12", "q14"):
        q = QUERIES[name]
        a = [(r["docid"], r["score"]) for r in bm25_topk_wand(seg_index, q, n).collect()]
        b = [(r["docid"], r["score"]) for r in bm25_topk_wand(seg_index, q, 10).collect()]
        assert a[:10] == b, name
        n_matches.append(len(a))
    assert max(n_matches) > 10  # some pruned run had matches to skip


def test_or_mode_superset(seg_index, oracle):
    """OR top-k contains every AND hit's docid score >= its AND score; with
    a single term OR == AND bit-exactly."""
    got_or = [
        (r["docid"], r["score"])
        for r in bm25_topk_wand(seg_index, QUERIES["q06"], k=10, mode="or").collect()
    ]
    got_and = [
        (r["docid"], r["score"])
        for r in bm25_topk_wand(seg_index, QUERIES["q06"], k=10).collect()
    ]
    assert got_or == got_and


def test_resume_rebuilds_identically(spark, pages_path, tmp_path_factory, monkeypatch):
    from honeywell_search_engine_spark.index import segments as S

    out = str(tmp_path_factory.mktemp("resume") / "idx")
    # a crash before finalize: term_stats never commits, so the phase-1
    # occurrence scratch a resume encodes from is still there
    def crash(*a, **kw):
        raise RuntimeError("crash before finalize")

    monkeypatch.setattr(S, "write_term_stats", crash)
    with pytest.raises(RuntimeError, match="before finalize"):
        _build(spark, pages_path, out, n_buckets=8, n_shards=4, buckets_per_job=4)
    monkeypatch.undo()
    assert os.path.isdir(f"{out}/postings")
    before = {
        b: json.load(open(f"{out}/manifests/bucket_{b}.json")) for b in range(8)
    }
    # simulate a crash: two buckets lose their manifests and segment files
    for b in (2, 5):
        os.remove(f"{out}/manifests/bucket_{b}.json")
        shutil.rmtree(f"{out}/segments/bucket={b}", ignore_errors=True)
    phase1_before = open(f"{out}/manifests/phase1.json").read()
    _build(spark, pages_path, out, n_buckets=8, n_shards=4, buckets_per_job=4)
    # phase 1 untouched, killed buckets rebuilt byte-identically (content
    # checksum), others untouched
    assert open(f"{out}/manifests/phase1.json").read() == phase1_before
    for b in range(8):
        after = json.load(open(f"{out}/manifests/bucket_{b}.json"))
        assert after["checksum"] == before[b]["checksum"], b
        assert after["rows"] == before[b]["rows"], b
        assert after["postings"] == before[b]["postings"], b
    assert not os.path.isdir(f"{out}/postings")  # finalize drops the scratch


def test_resume_refuses_changed_input(spark, pages_path, tmp_path_factory, tmp_path):
    from honeywell_search_engine_spark.sources.pages import write_pages_table

    out = str(tmp_path_factory.mktemp("fpr") / "idx")
    _build(spark, pages_path, out, n_buckets=4, n_shards=2)
    other = str(tmp_path / "other_pages.parquet")
    write_pages_table(other, 50)
    pages = read_pages(spark, other)
    tok = tokenized_docs(docs_from_pages(pages))
    os.remove(f"{out}/manifests/bucket_1.json")
    with pytest.raises(ValueError, match="different input"):
        build_segments(tok, out, other, n_buckets=4, n_shards=2)


def test_partition_count_invariance(spark, pages_path, tmp_path_factory, seg_index):
    """Same corpus built under a different shuffle-partition count yields
    identical per-bucket content checksums (SURVEY.md §5.5)."""
    out2 = str(tmp_path_factory.mktemp("inv") / "idx")
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        _build(spark, pages_path, out2, n_buckets=16, n_shards=4, buckets_per_job=16)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    for b in range(16):
        m1 = json.load(open(f"{seg_index.path}/manifests/bucket_{b}.json"))
        m2 = json.load(open(f"{out2}/manifests/bucket_{b}.json"))
        assert m1["checksum"] == m2["checksum"], b
        assert m1["postings"] == m2["postings"], b


def test_batch_wand_equals_per_query(seg_index):
    """The one-job batch path returns exactly the per-query results."""
    from honeywell_search_engine_spark.query.wand import (
        bm25_topk_wand,
        bm25_topk_wand_batch,
    )

    batch = bm25_topk_wand_batch(seg_index, QUERIES, k=10)
    got = {}
    for r in batch.collect():
        got.setdefault(r["qid"], []).append((r["docid"], r["score"]))
    for name, q in QUERIES.items():
        exp = [
            (r["docid"], r["score"])
            for r in bm25_topk_wand(seg_index, q, k=10).collect()
        ]
        assert got.get(name, []) == exp, name


def test_phrase_topk_matches_oracle(spark, seg_index, oracle, pages_pdf):
    """Positional index: phrase top-k rank/score-identical to the oracle's
    position-set evaluation, including a 3-term phrase, a repeated-term
    phrase, and a no-match phrase."""
    from honeywell_search_engine_spark.functions.analyzer import analyze
    from honeywell_search_engine_spark.query.wand import bm25_topk_phrase

    en = pages_pdf[pages_pdf.lang == "en"]
    toks0 = analyze(en.text.iloc[0])
    toks1 = analyze(en.text.iloc[7])
    phrases = [
        " ".join(toks0[:2]),          # real adjacent pair
        " ".join(toks1[3:6]),         # real adjacent triple
        f"{toks0[0]} {toks0[0]}",     # repeated-term phrase
        "zzzznopexyz qqqqnopexyz",    # vocabulary miss -> empty
    ]
    n_nonempty = 0
    for ph in phrases:
        exp = oracle.search_phrase(ph, k=10)
        got = [
            (r["docid"], r["score"])
            for r in bm25_topk_phrase(seg_index, ph, k=10).collect()
        ]
        assert got == exp, ph
        n_nonempty += bool(exp)
    assert n_nonempty >= 2  # the derived phrases actually matched something


def test_phrase_subset_of_and(spark, seg_index, oracle, pages_pdf):
    """Every phrase hit must contain all phrase terms (AND superset,
    computed unbounded from the oracle's postings)."""
    from honeywell_search_engine_spark.functions.analyzer import analyze
    from honeywell_search_engine_spark.query.wand import bm25_topk_phrase

    en = pages_pdf[pages_pdf.lang == "en"]
    t0, t1 = analyze(en.text.iloc[3])[:2]
    and_full = set(oracle.postings.get(t0, {})) & set(oracle.postings.get(t1, {}))
    ph_hits = {
        r["docid"]
        for r in bm25_topk_phrase(seg_index, f"{t0} {t1}", k=100000).collect()
    }
    assert ph_hits and ph_hits <= and_full


def test_and_score_bound_pruning_exact_and_cheaper(monkeypatch):
    """AND-mode score-bound pruning: results bit-identical to prune=False,
    strictly fewer blocks decoded (the verdict's 'decoded-block counter
    drops' criterion). Lists are engineered with head-term tf skew — ten
    hot docs clustered in the driver's low-docid region dominate the
    top-10; every other candidate's metadata-only upper bound falls below
    theta, vacating whole blocks of the big list before decode."""
    import numpy as np

    from honeywell_search_engine_spark.index import codec
    from honeywell_search_engine_spark.query.wand import _shard_kernel_and

    avgdl = 100.0
    n_big = 4000
    docids = np.arange(1, n_big + 1, dtype=np.uint64)
    dls = np.full(n_big, 100, dtype=np.uint64)
    # t0 (driver, rarer): every 8th doc; tf=20 for the 10 lowest, else 1
    d0 = docids[::8]
    tf0 = np.ones(d0.size, dtype=np.uint64)
    tf0[:10] = 20
    dl0 = np.full(d0.size, 100, dtype=np.uint64)
    # t1: all docs, tf=1 (uniform big list)
    tf1 = np.ones(n_big, dtype=np.uint64)
    rows = [
        ("t0", codec.encode_postings(d0, tf0, dl0)),
        ("t1", codec.encode_postings(docids, tf1, dls)),
    ]
    idf = {"t0": 2.0, "t1": 0.5}

    counts = {"blocks": 0}
    orig = codec.decode_blocks

    def counting(enc, blocks, with_positions=False):
        counts["blocks"] += len(np.atleast_1d(blocks))
        return orig(enc, blocks, with_positions)

    monkeypatch.setattr(
        "honeywell_search_engine_spark.query.wand.codec.decode_blocks", counting
    )
    counts["blocks"] = 0
    res_pruned = _shard_kernel_and(rows, idf, avgdl, k=10)
    pruned_blocks = counts["blocks"]
    counts["blocks"] = 0
    res_full = _shard_kernel_and(rows, idf, avgdl, k=10, prune=False)
    full_blocks = counts["blocks"]

    assert res_pruned == res_full  # bit-identical (docid AND float score)
    assert pruned_blocks < full_blocks, (pruned_blocks, full_blocks)


def test_and_pruning_sound_when_high_driver_docs_fail_conjunction():
    """Regression (round-2 advice, wand.py theta): theta must come from
    documents VERIFIED against the conjunction. Adversarial shard: the
    driver term has 40 high-tf docs that all LACK the second term, plus
    one low-tf doc that contains it. An unverified theta (k-th driver
    contribution) exceeds the lone true match's score and pruned it to
    []; the sound kernel must return it, identically to prune=False."""
    import numpy as np

    from honeywell_search_engine_spark.index import codec
    from honeywell_search_engine_spark.query.wand import _shard_kernel_and

    avgdl = 100.0
    # driver t0: docs 1..40 with tf=20 (no t1), doc 1000 with tf=1 (has t1)
    d0 = np.concatenate(
        [np.arange(1, 41, dtype=np.uint64), np.array([1000], dtype=np.uint64)]
    )
    tf0 = np.concatenate(
        [np.full(40, 20, dtype=np.uint64), np.array([1], dtype=np.uint64)]
    )
    dl0 = np.full(d0.size, 100, dtype=np.uint64)
    # t1: docs 1000..1999, tf=1
    d1 = np.arange(1000, 2000, dtype=np.uint64)
    tf1 = np.ones(d1.size, dtype=np.uint64)
    dl1 = np.full(d1.size, 100, dtype=np.uint64)
    rows = [
        ("t0", codec.encode_postings(d0, tf0, dl0)),
        ("t1", codec.encode_postings(d1, tf1, dl1)),
    ]
    idf = {"t0": 2.0, "t1": 0.5}
    res_full = _shard_kernel_and(rows, idf, avgdl, k=10, prune=False)
    res_pruned = _shard_kernel_and(rows, idf, avgdl, k=10, prune=True)
    assert res_full, "fixture must have exactly one true conjunctive match"
    assert [d for d, _ in res_full] == [1000]
    assert res_pruned == res_full


@pytest.mark.parametrize("rep", ["encoded", "memo", "decoded"])
@pytest.mark.parametrize("slop", [0, 2])
def test_repeated_phrase_term_probed_once(monkeypatch, rep, slop):
    """The phrase kernel keys its columns by term: in "alpha bravo alpha"
    the rare `bravo` drives and `alpha` is probed ONCE, not once per
    occurrence. One in-process shard (lid = docid) of 600 docs, `alpha`
    in every doc (5 blocks), so the probe is block-selective; the result
    equals OracleIndex.search_phrase bit-exactly, over EncodedLists,
    MemoLists and decoded PostingLists alike."""
    from collections import Counter

    import numpy as np

    from honeywell_search_engine_spark.index import codec
    from honeywell_search_engine_spark.oracle import OracleIndex
    from honeywell_search_engine_spark.query import wand as W

    docs = []
    for d in range(600):
        words = ["alpha", "charlie", "delta"][: 1 + d % 3] + ["echo"] * (d % 5)
        if d % 10 == 0:
            words += ["alpha", "bravo", "alpha"] if d % 20 else ["bravo", "echo", "alpha"]
        docs.append((d, " ".join(words)))
    oracle = OracleIndex.build(docs)
    by_term = {}
    for t, post in oracle.postings.items():
        ds = sorted(post)
        enc = codec.encode_postings(
            np.array(ds, dtype=np.uint64),
            np.array([post[d] for d in ds], dtype=np.uint64),
            np.array([oracle.doclen[d] for d in ds], dtype=np.uint64),
            positions=np.concatenate([oracle.positions[t][d] for d in ds]),
        )
        if rep != "encoded":
            ml = codec.MemoList(
                enc, codec.decode_postings(enc, with_positions=True, flat_positions=True)
            )
            enc = ml if rep == "memo" else ml.pl
        by_term[t] = enc
    assert by_term["alpha"].n == 600 and by_term["bravo"].n == 60
    idf = {t: oracle.idf(t) for t in by_term}
    q = "alpha bravo alpha"
    plan = W.plan_query(oracle, q, 10, syntax="phrase", slop=slop)  # reads .stemmed only
    assert plan.terms == ("alpha", "bravo", "alpha")

    term_of = {id(x): t for t, x in by_term.items()}
    probes = Counter()
    real = W._probe_any
    monkeypatch.setattr(
        W, "_probe_any",
        lambda x, cand, **kw: probes.update([term_of[id(x)]]) or real(x, cand, **kw),
    )
    got = W.evaluate(plan, by_term, idf, oracle.avgdl, 10)
    assert probes == {"alpha": 1}
    exp = oracle.search_phrase(q, k=10, slop=slop)
    assert len(exp) == 10
    assert [(int(d), float(s)) for d, s in got][:10] == exp


@pytest.mark.parametrize("rep", ["encoded", "memo", "decoded"])
def test_websearch_or_probes_each_term_once(monkeypatch, rep):
    """A multi-group websearch query reads each positive term's list once
    per shard: each group's rarest list is decoded whole and every other
    term is probed ONCE, for matching and scoring alike. In "alpha bravo
    or charlie delta" the rare `alpha` and `charlie` drive, so `bravo`
    and `delta` are probed once each (docs 0, 3, 6 ... match the second
    group only, so `bravo` is still needed there to score them). One
    in-process shard of 600 docs; the result equals
    OracleIndex.search_websearch bit-exactly over EncodedLists, MemoLists
    and decoded PostingLists."""
    from collections import Counter

    import numpy as np

    from honeywell_search_engine_spark.index import codec
    from honeywell_search_engine_spark.oracle import OracleIndex
    from honeywell_search_engine_spark.query import wand as W

    docs = []
    for d in range(600):
        words = ["bravo", "delta", "echo"][: 1 + d % 3] + ["echo"] * (d % 4)
        if d % 7 == 0:
            words.append("alpha")
        if d % 3 == 0:
            words += ["charlie", "delta", "bravo"][: 2 + d % 2]
        docs.append((d, " ".join(words)))
    oracle = OracleIndex.build(docs)
    by_term = {}
    for t, post in oracle.postings.items():
        ds = sorted(post)
        enc = codec.encode_postings(
            np.array(ds, dtype=np.uint64),
            np.array([post[d] for d in ds], dtype=np.uint64),
            np.array([oracle.doclen[d] for d in ds], dtype=np.uint64),
            positions=np.concatenate([oracle.positions[t][d] for d in ds]),
        )
        if rep != "encoded":
            ml = codec.MemoList(
                enc, codec.decode_postings(enc, with_positions=True, flat_positions=True)
            )
            enc = ml if rep == "memo" else ml.pl
        by_term[t] = enc
    assert by_term["alpha"].n < by_term["bravo"].n
    assert by_term["charlie"].n < by_term["delta"].n
    idf = {t: oracle.idf(t) for t in by_term}
    q = "alpha bravo or charlie delta"
    plan = W.plan_query(oracle, q, 10, syntax="web")  # reads .stemmed only
    assert len(plan.groups) == 2

    term_of = {id(x): t for t, x in by_term.items()}
    probes = Counter()
    real = W._probe_any
    monkeypatch.setattr(
        W, "_probe_any",
        lambda x, cand, **kw: probes.update([term_of.get(id(x))]) or real(x, cand, **kw),
    )
    got = W.evaluate(plan, by_term, idf, oracle.avgdl, 10)
    probes.pop(None, None)  # lookups in the already-decoded lists
    assert probes == {"bravo": 1, "delta": 1}
    exp = oracle.search_websearch(q, k=10)
    assert len(exp) == 10
    assert [(int(d), float(s)) for d, s in got][:10] == exp


def test_near_topk_matches_oracle(spark, seg_index, oracle, pages_pdf):
    """Ordered-NEAR (slop) top-k == oracle at slop 1 and 2; slop widens or
    keeps the hit set vs the exact phrase."""
    from honeywell_search_engine_spark.functions.analyzer import analyze
    from honeywell_search_engine_spark.query.wand import bm25_topk_phrase

    en = pages_pdf[pages_pdf.lang == "en"]
    toks = analyze(en.text.iloc[11])
    ph = f"{toks[0]} {toks[2]}"  # one token apart -> phrase may miss, slop>=1 hits
    sizes = {}
    for slop in (0, 1, 2):
        exp = oracle.search_phrase(ph, k=20, slop=slop)
        got = [
            (r["docid"], r["score"])
            for r in bm25_topk_phrase(seg_index, ph, k=20, slop=slop).collect()
        ]
        assert got == exp, (ph, slop)
        sizes[slop] = len(exp)
    assert sizes[1] >= 1  # the derived near-pair actually matches at slop 1
    assert sizes[0] <= sizes[1] <= sizes[2] or sizes[2] == 20


def test_or_topk_matches_oracle(seg_index, oracle):
    """OR mode is exact vs a disjunctive union-scoring oracle (not just a
    superset property) across head/mid/tail/multi-term query shapes."""
    for name in ("q01", "q06", "q08", "q10", "q12", "q14", "q18"):
        q = QUERIES[name]
        exp = oracle.search_or(q, k=10)
        got = [
            (r["docid"], r["score"])
            for r in bm25_topk_wand(seg_index, q, k=10, mode="or").collect()
        ]
        assert got == exp, name


def test_or_block_prune_exact_and_cheaper(monkeypatch):
    """OR interval-sweep pruning: bit-identical results with strictly fewer
    blocks decoded on skewed lists (one rare high-impact term + one huge
    flat term)."""
    import numpy as np

    from honeywell_search_engine_spark.index import codec
    from honeywell_search_engine_spark.query.wand import _shard_kernel_or

    avgdl = 100.0
    n_big = 6000
    docids = np.arange(1, n_big + 1, dtype=np.uint64)
    dls = np.full(n_big, 100, dtype=np.uint64)
    # t0: rare, high idf, clustered high tf -> dominates theta
    d0 = docids[:96]
    tf0 = np.full(d0.size, 25, dtype=np.uint64)
    dl0 = np.full(d0.size, 100, dtype=np.uint64)
    # t1: everywhere, tf=1, low idf -> most of its blocks can't matter
    rows = [
        ("t0", codec.encode_postings(d0, tf0, dl0)),
        ("t1", codec.encode_postings(docids, np.ones(n_big, np.uint64), dls)),
    ]
    idf = {"t0": 4.0, "t1": 0.2}

    counts = {"blocks": 0}
    orig_blocks, orig_full = codec.decode_blocks, codec.decode_postings

    def counting_blocks(enc, blocks, with_positions=False):
        counts["blocks"] += len(np.atleast_1d(blocks))
        return orig_blocks(enc, blocks, with_positions)

    def counting_full(enc, with_positions=False):
        counts["blocks"] += enc.bmax_docid.size
        return orig_full(enc, with_positions)

    monkeypatch.setattr(
        "honeywell_search_engine_spark.query.wand.codec.decode_blocks", counting_blocks
    )
    monkeypatch.setattr(
        "honeywell_search_engine_spark.query.wand.codec.decode_postings", counting_full
    )
    counts["blocks"] = 0
    res_pruned = _shard_kernel_or(rows, idf, avgdl, k=10)
    pruned_blocks = counts["blocks"]
    counts["blocks"] = 0
    res_full = _shard_kernel_or(rows, idf, avgdl, k=10, prune=False)
    full_blocks = counts["blocks"]
    assert res_pruned == res_full
    assert pruned_blocks < full_blocks, (pruned_blocks, full_blocks)


def test_cached_searcher(seg_index, oracle):
    """CachedSearcher returns oracle-exact rows, hits on repeats, evicts LRU."""
    from honeywell_search_engine_spark.query.cache import CachedSearcher

    cs = CachedSearcher(seg_index, capacity=2)
    q = QUERIES["q06"]
    first = cs.search(q, k=10)
    assert first == oracle.search(q, k=10)
    assert cs.search(q, k=10) == first and cs.hits == 1 and cs.misses == 1
    cs.search(QUERIES["q01"], k=10)
    cs.search(QUERIES["q02"], k=10)  # capacity 2 -> q06 evicted
    assert ("q", q, 10, "and") not in cs._lru


def test_batch_phrase_equals_per_query(spark, seg_index, pages_pdf):
    from honeywell_search_engine_spark.functions.analyzer import analyze
    from honeywell_search_engine_spark.query.wand import (
        bm25_topk_phrase,
        bm25_topk_phrase_batch,
    )

    en = pages_pdf[pages_pdf.lang == "en"]
    phrases = {
        "p0": " ".join(analyze(en.text.iloc[0])[:2]),
        "p1": " ".join(analyze(en.text.iloc[7])[3:6]),
        "p2": "zzzznopexyz qqqqnopexyz",
    }
    batch = {}
    for r in bm25_topk_phrase_batch(seg_index, phrases, k=10).collect():
        batch.setdefault(r["qid"], []).append((r["docid"], r["score"]))
    for qid, ph in phrases.items():
        exp = [
            (r["docid"], r["score"])
            for r in bm25_topk_phrase(seg_index, ph, k=10).collect()
        ]
        assert batch.get(qid, []) == exp, qid


def test_scoped_search_matches_oracle(seg_index, oracle):
    """allowed_docids (the reference's per-caller scope, F2/F3) restricts
    AND and OR results exactly: equal to the oracle filtered to the same
    scope, bit-exact scores, across head and multi-term queries."""
    for name in ("q01", "q06", "q10"):
        q = QUERIES[name]
        full = oracle.search(q, k=50)
        assert len(full) >= 6
        allowed = [d for d, _ in full[1::2]][:10]  # every other hit
        exp = oracle.search(q, k=10, allowed=allowed)
        got = [
            (r["docid"], r["score"])
            for r in bm25_topk_wand(seg_index, q, k=10, allowed_docids=allowed).collect()
        ]
        assert got == exp, name
        exp_or = oracle.search_or(q, k=10, allowed=allowed)
        got_or = [
            (r["docid"], r["score"])
            for r in bm25_topk_wand(
                seg_index, q, k=10, mode="or", allowed_docids=allowed
            ).collect()
        ]
        assert got_or == exp_or, name
    # empty scope -> empty result
    assert (
        bm25_topk_wand(seg_index, QUERIES["q01"], k=10, allowed_docids=[123]).count()
        == 0
    )


def test_large_scope_cogroup_path_no_driver_materialization(spark, seg_index, oracle):
    """A scope above SCOPE_INLINE_MAX (or any DataFrame scope) must ride
    the distributed large-scope path: the plan joins the docmap with the
    scope and feeds its (shard, lid) rows, grouped by shard, to
    FlatMapGroupsInArrow, whose tasks read their shard's segment rows
    themselves (no segment scan in the plan) — no driver
    collect/broadcast of the scope — with results identical to the
    memoized-broadcast path (round-2 verdict item 5)."""
    from pyspark.sql import functions as F

    q = QUERIES["q01"]
    full = oracle.search(q, k=50)
    allowed = [d for d, _ in full[1::2]][:10]
    exp = oracle.search(q, k=10, allowed=allowed)

    # scope as a ~1.3M-id DataFrame (10 real hits + 1.3M nonexistent ids)
    # built executor-side: the driver never holds the id list
    scope_df = (
        spark.range(10_000_000, 11_300_000)
        .select(F.col("id").alias("docid"))
        .unionByName(
            spark.createDataFrame([(int(d),) for d in allowed], "docid long")
        )
    )
    df = bm25_topk_wand(seg_index, q, k=10, allowed_docids=scope_df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInArrow [shard" in plan and "/segments" not in plan, plan[:2000]
    got = [(r["docid"], r["score"]) for r in df.collect()]
    assert got == exp

    # a plain list above the threshold routes through the same path
    big_list = allowed + list(range(20_000_000, 20_150_000))
    df2 = bm25_topk_wand(seg_index, q, k=10, allowed_docids=big_list)
    plan2 = df2._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInArrow [shard" in plan2 and "/segments" not in plan2
    assert [(r["docid"], r["score"]) for r in df2.collect()] == exp

    # memoization: the same small scope reuses ONE broadcast across queries
    bc1 = seg_index.scope_broadcast(allowed)
    bc2 = seg_index.scope_broadcast(list(allowed))
    assert bc1 is bc2


def test_assign_local_ids_partition_independent(spark):
    """Local-id assignment is a pure function of the docid SET: identical
    under wildly different input partitionings, and ids are dense 0..n-1
    per shard."""
    from pyspark.sql import functions as F

    from honeywell_search_engine_spark.index.docmap import assign_local_ids

    ids = spark.range(0, 5000).select(
        (F.xxhash64("id").bitwiseAND(F.lit((1 << 60) - 1))).alias("docid")
    )
    a = {
        (r["shard"], r["docid"]): r["local_id"]
        for r in assign_local_ids(ids.repartition(1), 4).collect()
    }
    b = {
        (r["shard"], r["docid"]): r["local_id"]
        for r in assign_local_ids(ids.repartition(13), 4).collect()
    }
    assert a == b and len(a) == 5000
    # dense per shard: 0..count-1
    per_shard = {}
    for (s, _), lid in a.items():
        per_shard.setdefault(s, []).append(lid)
    for s, lids in per_shard.items():
        assert sorted(lids) == list(range(len(lids))), s


def test_doc_keys_translate_a_docid_set(seg_index):
    """doc_keys maps a docid set — with duplicates, docids the index does
    not hold, and any iterable of ints — to the sorted posting keys of
    exactly the held docids, as the docmap rows give them; an empty set
    gives an empty int64 array. docid_frame holds each docid once."""
    import numpy as np
    import pyarrow.parquet as pq

    from honeywell_search_engine_spark.index.codec import keys_of
    from honeywell_search_engine_spark.index.docmap import doc_keys, docid_frame

    dm = pq.read_table(seg_index.docmap_files, columns=["shard", "local_id", "docid"])
    docids = dm.column("docid").to_numpy()
    held = docids[::3]
    absent = np.arange(1, 2000, dtype=np.int64) * 7919
    absent = absent[~np.isin(absent, docids)]
    scope = np.concatenate([held, held[:50], absent])
    pick = np.isin(docids, held)
    exp = np.sort(keys_of(dm.column("shard").to_numpy()[pick], dm.column("local_id").to_numpy()[pick]))
    for given in (scope, scope.tolist(), frozenset(scope.tolist()), iter(scope.tolist())):
        got = doc_keys(seg_index.docmap, given)
        assert got.dtype == np.int64 and np.array_equal(got, exp)
    empty = doc_keys(seg_index.docmap, frozenset())
    assert empty.dtype == np.int64 and empty.size == 0
    frame = docid_frame(seg_index.spark, scope)
    assert frame.schema.simpleString() == "struct<docid:bigint>"
    assert sorted(r.docid for r in frame.collect()) == np.unique(scope).tolist()


def test_websearch_negation_matches_oracle(spark, seg_index, oracle):
    """websearch '-term' negation on the segment path: bit-exact vs the
    oracle with exclusions, across head/marker combinations; contradiction
    and unknown negated terms behave like Postgres websearch."""
    from honeywell_search_engine_spark.functions.analyzer import parse_websearch
    from honeywell_search_engine_spark.query.wand import bm25_topk_websearch

    cases = [
        f"{QUERIES['q01']} -{QUERIES['q02']}",        # head minus head
        f"{QUERIES['q01']} {QUERIES['q02']} -data",   # two heads minus head
        f"{QUERIES['q06']} -zzzznotaterm",            # unknown negation: no-op
    ]
    n_nonempty = n_reduced = 0
    for q in cases:
        pos, neg = parse_websearch(q)
        exp = oracle.search(" ".join(pos), k=10, exclude=neg)
        got = [
            (r["docid"], r["score"])
            for r in bm25_topk_websearch(seg_index, q, k=10).collect()
        ]
        assert got == exp, q
        n_nonempty += bool(exp)
        full = {d for d, _ in oracle.search(" ".join(pos), k=100000)}
        excl = {d for d, _ in oracle.search(" ".join(pos), k=100000, exclude=neg)}
        n_reduced += excl < full  # negation actually removed docs
    assert n_nonempty >= 2 and n_reduced >= 2
    # contradiction: a required term also negated -> empty (a & !a)
    assert (
        bm25_topk_websearch(seg_index, f"{QUERIES['q01']} -{QUERIES['q01']}", k=10)
        .count()
        == 0
    )


def test_websearch_serving_matches_spark(spark, seg_index):
    from honeywell_search_engine_spark.query.local import ServingIndex
    from honeywell_search_engine_spark.query.wand import bm25_topk_websearch

    sv = ServingIndex(seg_index.path)
    for q in (f"{QUERIES['q01']} -{QUERIES['q02']}", f"{QUERIES['q06']} -data"):
        exp = [
            (r["docid"], r["score"])
            for r in bm25_topk_websearch(seg_index, q, k=10).collect()
        ]
        assert sv.search_websearch(q, k=10) == exp, q


def test_websearch_full_quoted_plus_negation_matches_oracle(
    spark, seg_index, oracle, pages_pdf
):
    """Combined websearch surface — '"quoted phrase" word -neg' — is
    rank/score bit-exact vs OracleIndex.search_websearch, and the phrase
    group genuinely constrains (quoted result set strictly inside the
    unquoted AND set somewhere across the cases)."""
    from honeywell_search_engine_spark.functions.analyzer import analyze
    from honeywell_search_engine_spark.query.local import ServingIndex
    from honeywell_search_engine_spark.query.wand import bm25_topk_websearch

    en = pages_pdf[pages_pdf.lang == "en"]
    a0, a1 = analyze(en.text.iloc[3])[:2]    # real adjacent pair
    b0, b1 = analyze(en.text.iloc[11])[:2]
    sv = ServingIndex(seg_index.path)
    cases = [
        f'"{a0} {a1}"',
        f'"{a0} {a1}" {QUERIES["q01"]}',
        f'"{a0} {a1}" -{QUERIES["q02"]}',
        f'"{b0} {b1}" "{a0} {a1}"',          # two phrase groups
        f'"{a0} {a1}" -zzzznotaterm',
    ]
    n_nonempty = 0
    for q in cases:
        exp = oracle.search_websearch(q, k=10)
        got = [
            (r["docid"], r["score"])
            for r in bm25_topk_websearch(seg_index, q, k=10).collect()
        ]
        assert got == exp, q
        assert sv.search_websearch(q, k=10) == exp, q
        n_nonempty += bool(exp)
    assert n_nonempty >= 3
    # the quote constrains: unordered AND of the same words is a superset
    quoted = {d for d, _ in oracle.search_websearch(f'"{a0} {a1}"', k=100000)}
    anded = {d for d, _ in oracle.search(f"{a0} {a1}", k=100000)}
    assert quoted <= anded and quoted


def test_websearch_batch_equals_per_query(spark, seg_index, pages_pdf):
    """The one-job websearch batch returns exactly the per-query results
    across plain, negated, quoted, and mixed queries (plus a contradiction
    and an all-stopword query, which contribute no rows)."""
    from honeywell_search_engine_spark.functions.analyzer import analyze
    from honeywell_search_engine_spark.query.wand import (
        bm25_topk_websearch,
        bm25_topk_websearch_batch,
    )

    en = pages_pdf[pages_pdf.lang == "en"]
    a0, a1 = analyze(en.text.iloc[3])[:2]
    qs = {
        "plain": QUERIES["q01"],
        "negated": f"{QUERIES['q01']} -{QUERIES['q02']}",
        "quoted": f'"{a0} {a1}"',
        "mixed": f'"{a0} {a1}" {QUERIES["q01"]} -{QUERIES["q02"]}',
        "contradiction": f"{QUERIES['q01']} -{QUERIES['q01']}",
        "empty": "the of and",
    }
    batch = bm25_topk_websearch_batch(seg_index, qs, k=10)
    got = {}
    for r in batch.collect():
        got.setdefault(r["qid"], []).append((r["docid"], r["score"]))
    n_nonempty = 0
    for qid, q in qs.items():
        exp = [
            (r["docid"], r["score"])
            for r in bm25_topk_websearch(seg_index, q, k=10).collect()
        ]
        assert got.get(qid, []) == exp, qid
        n_nonempty += bool(exp)
    assert n_nonempty >= 3


def test_near_unordered_topk_matches_oracle(spark, seg_index, oracle, pages_pdf):
    """Ranked unordered NEAR: segment path == oracle across distances;
    symmetric in term order; superset-or-equal of the ordered NEAR hit set
    at the same distance (ordered chain implies an unordered pair)."""
    from honeywell_search_engine_spark.functions.analyzer import analyze
    from honeywell_search_engine_spark.query.wand import (
        bm25_topk_near_unordered,
        bm25_topk_phrase,
    )

    en = pages_pdf[pages_pdf.lang == "en"]
    toks = analyze(en.text.iloc[11])
    pair = f"{toks[0]} {toks[2]}"
    rev = f"{toks[2]} {toks[0]}"
    sizes = {}
    for dist in (1, 2, 3):
        exp = oracle.search_near_unordered(pair, k=20, dist=dist)
        got = [
            (r["docid"], r["score"])
            for r in bm25_topk_near_unordered(
                seg_index, pair, k=20, dist=dist
            ).collect()
        ]
        assert got == exp, (pair, dist)
        sizes[dist] = len(exp)
        # symmetric in term order (scores identical: same distinct terms)
        got_rev = [
            (r["docid"], r["score"])
            for r in bm25_topk_near_unordered(
                seg_index, rev, k=20, dist=dist
            ).collect()
        ]
        assert got_rev == exp, (rev, dist)
    assert sizes[1] >= 1
    assert sizes[1] <= sizes[2] <= sizes[3] or sizes[3] == 20
    # ordered NEAR at span slop=d-1 (two terms: span <= 1+(d-1)=d) is a
    # subset of unordered at distance d
    ordered = {
        r["docid"]
        for r in bm25_topk_phrase(seg_index, pair, k=10**6, slop=2).collect()
    }
    unordered = {
        r["docid"]
        for r in bm25_topk_near_unordered(
            seg_index, pair, k=10**6, dist=3
        ).collect()
    }
    assert ordered <= unordered


def test_near_unordered_validates_input(seg_index):
    import pytest as _pytest

    from honeywell_search_engine_spark.query.wand import bm25_topk_near_unordered

    for bad in ("data", "data data", "data search engine"):
        with _pytest.raises(ValueError, match="two-distinct-term"):
            bm25_topk_near_unordered(seg_index, bad)


def test_bucket_checksums_pre_fmt_index(spark, seg_index, tmp_path):
    """An index built before the `fmt` column existed must still be
    checksummable — `fmt` participates in the xxhash64 only when present
    in the scanned schema, so recomputed checksums stay comparable to
    manifests persisted by the pre-fmt builder (advice r5). A pre-fmt
    index is simulated by rewriting the segments parquet without fmt."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from honeywell_search_engine_spark.index.segments import (
        bucket_checksums,
        index_report,
    )

    old = str(tmp_path / "prefmt")
    os.makedirs(old)
    seg = spark.read.parquet(f"{seg_index.path}/segments")
    assert "fmt" in seg.columns
    (
        seg.drop("fmt")
        .repartition(4)
        .write.partitionBy("bucket")
        .parquet(f"{old}/segments")
    )
    for aux in ("manifests", "term_stats"):
        src = os.path.join(seg_index.path, aux)
        if os.path.isdir(src):
            shutil.copytree(src, os.path.join(old, aux))
    for fn in os.listdir(seg_index.path):
        p = os.path.join(seg_index.path, fn)
        if os.path.isfile(p):
            shutil.copy(p, os.path.join(old, fn))

    buckets = sorted(
        int(r["bucket"])
        for r in spark.read.parquet(f"{old}/segments")
        .select("bucket").distinct().collect()
    )
    chks = bucket_checksums(spark, f"{old}/segments", buckets)
    assert chks and all(c["rows"] > 0 for c in chks.values())
    # and checksums equal the hand-rolled pre-fmt formula
    exp = {
        int(r["bucket"]): int(r["cs"])
        for r in spark.read.parquet(f"{old}/segments")
        .groupBy("bucket")
        .agg(F.bit_xor(F.xxhash64(
            "term", "shard", "n", "deltas", "tfs", "doclens", "positions"
        )).alias("cs"))
        .collect()
    }
    assert {b: c["checksum"] for b, c in chks.items()} == exp
    # index_report runs on the pre-fmt layout too (same column guard)
    rep = index_report(spark, old).collect()
    assert len(rep) > 0


def test_arrow_from_encs_round_trips_enc_from_arrow(seg_index):
    """arrow_from_encs is the mirror of enc_from_arrow: the segment rows
    it builds from a table's lists (plus their term, shard, ctf and
    bucket) equal the table column for column, over a shuffled
    multi-chunk table. enc_from_arrow keeps the positions of the rows
    flagged, and reads a table without positions / p_off, or without
    fmt, as position-less or varbyte lists."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from honeywell_search_engine_spark.index import codec
    from honeywell_search_engine_spark.index.segments import (
        PA_SEGMENT_SCHEMA,
        arrow_from_encs,
        enc_from_arrow,
    )

    tbl = pq.read_table(f"{seg_index.path}/segments")
    tbl = pa.concat_tables([tbl.slice(0, 50), tbl.slice(50, 70)])
    tbl = tbl.take(np.random.default_rng(3).permutation(tbl.num_rows))
    assert tbl.column("p_off").null_count == 0
    meta = [tbl.column(c).to_pylist() for c in ("term", "shard", "ctf", "bucket")]
    got = arrow_from_encs(enc_from_arrow(tbl), *meta)
    assert got.schema == PA_SEGMENT_SCHEMA and got.num_rows == tbl.num_rows
    for f in PA_SEGMENT_SCHEMA:
        assert got.column(f.name).to_pylist() == tbl.column(f.name).to_pylist(), f.name

    flags = [i % 2 == 0 for i in range(tbl.num_rows)]
    pos, p_off = tbl.column("positions").to_pylist(), tbl.column("p_off").to_pylist()
    for i, enc in enumerate(enc_from_arrow(tbl, flags)):
        if flags[i]:
            assert enc.positions == pos[i] and enc.p_off.tolist() == p_off[i]
        else:
            assert enc.positions == b"" and enc.p_off is None

    # legacy tables: without positions and p_off, and without fmt
    full = enc_from_arrow(tbl)
    for cols in (["positions", "p_off", "fmt"], ["fmt"]):
        for enc, ref, p in zip(enc_from_arrow(tbl.drop_columns(cols)), full, pos):
            assert enc.fmt == codec.FMT_VB
            if "positions" in cols:
                assert enc.positions == b"" and enc.p_off is None
            else:
                assert enc.positions == p and np.array_equal(enc.p_off, ref.p_off)
            assert (enc.n, enc.deltas, enc.tfs, enc.doclens) == (ref.n, ref.deltas, ref.tfs, ref.doclens)
            for name in ("bmax_docid", "bmax_u", "d_off", "t_off", "l_off"):
                assert np.array_equal(getattr(enc, name), getattr(ref, name)), name
    bare = arrow_from_encs(enc_from_arrow(tbl.drop_columns(["positions", "p_off", "fmt"])), *meta)
    assert bare.column("positions").to_pylist() == [b""] * tbl.num_rows
    assert bare.column("p_off").null_count == tbl.num_rows
    assert bare.column("fmt").to_pylist() == [codec.FMT_TAGS[codec.FMT_VB]] * tbl.num_rows


def test_decode_occurrences_of_a_two_codec_bucket(seg_index, monkeypatch):
    """A bucket file of a promoted index can hold varbyte lists next to
    PFor ones (a delta-only list keeps its generation's codec).
    decode_occurrences decodes such a chunk (codec.decode_concat splits it
    by codec) and keeps the row order: varbyte-re-encoded rows in front of
    PFor rows decode to the
    varbyte rows' occurrences followed by the PFor rows', and a shuffled
    mix over many small chunks decodes as the same rows all in PFor."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from honeywell_search_engine_spark.index import codec
    from honeywell_search_engine_spark.index import segments as S

    tbl = pq.read_table(f"{seg_index.path}/segments", filters=[("bucket", "=", 3)])
    assert tbl.num_rows > 100
    assert set(tbl.column("fmt").to_pylist()) == {codec.FMT_TAGS[codec.FMT_PFOR]}

    def as_vb(rows):
        vb = [codec.encode_postings(pl.docids, pl.tfs, pl.doclens, positions=pl.positions, fmt=codec.FMT_VB)
              for pl in codec.decode_many(S.enc_from_arrow(rows), True)]
        meta = (rows.column(c).to_pylist() for c in ("term", "shard", "ctf", "bucket"))
        return pa.Table.from_batches([S.arrow_from_encs(vb, *meta)])

    def occ(t):
        return pa.Table.from_batches(list(S.decode_occurrences(t.to_batches())))

    head, rest = as_vb(tbl.slice(0, 5)), tbl.slice(5).cast(S.PA_SEGMENT_SCHEMA)
    mixed = pa.concat_tables([head, rest])
    assert occ(mixed).equals(pa.concat_tables([occ(head), occ(rest)]))

    order = np.random.default_rng(5).permutation(tbl.num_rows)
    shuffled = pa.concat_tables([as_vb(tbl.slice(0, tbl.num_rows // 2)),
                                 tbl.slice(tbl.num_rows // 2).cast(S.PA_SEGMENT_SCHEMA)]).take(order)
    assert len(set(shuffled.column("fmt").to_pylist())) == 2
    expected = occ(tbl.cast(S.PA_SEGMENT_SCHEMA).take(order))
    monkeypatch.setattr(S, "_DECODE_FLUSH", 500)
    assert len(list(S.decode_chunks(shuffled.column("ctf").to_numpy()))) > 2
    assert occ(shuffled).equals(expected)
