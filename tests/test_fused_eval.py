"""Shard-fused evaluation: one list per term over several shards, its
postings keyed (shard << 32) | lid (index/codec.py ``fuse``), evaluated
by ONE wand.evaluate call per plan — bit-identical to the oracle over
every list representation, with tombstones and a docid scope. In-process,
no Spark build."""

from collections import Counter

import numpy as np
import pytest

from honeywell_search_engine_spark.index import codec
from honeywell_search_engine_spark.oracle import OracleIndex
from honeywell_search_engine_spark.query import wand as W

N_SHARDS = 5
K = 10


@pytest.fixture(scope="module")
def corpus():
    """(oracle, {term: fused EncodedList}, {key: docid}) over 600 pages
    dealt to 5 shards by docid. Odd shards number their docs against
    docid order, so key order is not docid order (as after a merge);
    terms of odd length are pfor lists, the others varbyte."""
    from honeywell_search_engine_spark.index.corpus import docid_py
    from honeywell_search_engine_spark.sources.pages import generate_pages_pdf

    pdf = generate_pages_pdf(600)
    en = pdf[pdf.lang == "en"]
    oracle = OracleIndex.build([(docid_py(u), t) for u, t in zip(en.url, en.text)])
    lid_of, docid_of = {}, {}
    for s in range(N_SHARDS):
        ds = sorted(d for d in oracle.doclen if d % N_SHARDS == s)
        if s % 2:
            ds.reverse()
        for lid, d in enumerate(ds):
            lid_of[d] = lid
            docid_of[(s << 32) | lid] = d
    groups = {}
    for t, post in oracle.postings.items():
        parts = groups[t] = []
        for s in range(N_SHARDS):
            ds = sorted((d for d in post if d % N_SHARDS == s), key=lid_of.get)
            if ds:
                parts.append((s, codec.encode_postings(
                    np.array([lid_of[d] for d in ds], dtype=np.uint64),
                    np.array([post[d] for d in ds], dtype=np.uint64),
                    np.array([oracle.doclen[d] for d in ds], dtype=np.uint64),
                    positions=np.concatenate([oracle.positions[t][d] for d in ds]),
                    fmt=codec.FMT_PFOR if len(t) % 2 else codec.FMT_VB,
                )))
    lists = {}
    for fmt in (codec.FMT_VB, codec.FMT_PFOR):  # one fuse call per codec
        same = {t: g for t, g in groups.items() if g[0][1].fmt == fmt}
        lists.update(zip(same, codec.fuse(list(same.values()))))
    return oracle, lists, docid_of


def _rep(enc, rep):
    if rep == "encoded":
        return enc
    ml = codec.MemoList(enc, codec.decode_postings(enc, with_positions=True, flat_positions=True))
    return ml if rep == "memo" else ml.pl


# (plan_query kwargs, oracle answer for k results, scoped): the scope
# applies to the and/or plans, as on every front end
CASES = [
    (dict(query="data search"), lambda o, k, a: o.search("data search", k, allowed=a), True),
    (dict(query="data search engine", mode="or"),
     lambda o, k, a: o.search_or("data search engine", k, allowed=a), True),
    (dict(query="data"), lambda o, k, a: o.search("data", k, allowed=a), True),
    (dict(query="data search", exclude_terms=["web"]),
     lambda o, k, a: o.search("data search", k, allowed=a, exclude=["web"]), True),
    (dict(query='data -"search engine" or web crawl', syntax="web"),
     lambda o, k, a: o.search_websearch('data -"search engine" or web crawl', k), False),
    (dict(query="data search", syntax="phrase"),
     lambda o, k, a: o.search_phrase("data search", k), False),
    (dict(query="data search", syntax="phrase", slop=2),
     lambda o, k, a: o.search_phrase("data search", k, slop=2), False),
    (dict(query="data engine", syntax="near", slop=3),
     lambda o, k, a: o.search_near_unordered("data engine", k, dist=3), False),
]


@pytest.mark.parametrize("rep", ["encoded", "memo", "decoded"])
@pytest.mark.parametrize("case", range(len(CASES)))
def test_fused_lists_match_oracle(corpus, monkeypatch, rep, case):
    """Every plan kind, one evaluate call over the 5 shards' keyed lists,
    with tombstones and (and/or plans) a docid scope: the keys mapped to
    docids and cut under (-score, docid) equal the oracle's answer with
    the dead docs removed (corpus stats keep them until compaction)."""
    oracle, lists, docid_of = corpus
    kw, answer, scoped = CASES[case]
    key_of = {d: key for key, d in docid_of.items()}
    allowed = sorted(oracle.doclen)[::3] if scoped else None
    victims = []  # tombstones: one top hit of each of 3 shards
    for d, _ in answer(oracle, 40, allowed)[1:]:
        if len(victims) < 3 and all(v % N_SHARDS != d % N_SHARDS for v in victims):
            victims.append(d)
    assert len(victims) == 3
    plan = W.plan_query(oracle, k=K, **kw)  # reads .stemmed only
    by_term = {t: _rep(lists[t], rep) for t in plan.scan_terms if t in lists}
    idf = {t: oracle.idf(t) for t in by_term}
    dead = np.sort(np.array([key_of[d] for d in victims], dtype=np.int64))
    scope = None if allowed is None else np.sort(
        np.array([key_of[d] for d in allowed], dtype=np.int64))

    calls = []
    real = W.evaluate
    monkeypatch.setattr(W, "evaluate", lambda *a, **k: calls.append(1) or real(*a, **k))
    res = W.evaluate(plan, by_term, idf, oracle.avgdl, K, dead, scope)
    got = sorted(((docid_of[int(key)], float(s)) for key, s in res),
                 key=lambda r: (-r[1], r[0]))[:K]
    exp = [r for r in answer(oracle, K + len(victims), allowed) if r[0] not in victims][:K]
    assert len(exp) == K
    assert calls == [1]
    assert got == exp
    assert len({d % N_SHARDS for d, _ in got}) > 1  # one call, several shards


@pytest.mark.parametrize("rep", ["encoded", "memo"])
def test_fused_term_probed_once_per_plan(corpus, monkeypatch, rep):
    """A term is probed once per plan over its one keyed list, not once
    per shard: the repeated `search` of "search data search" and the
    non-driving terms of a multi-group websearch query."""
    oracle, lists, docid_of = corpus
    for q, syntax, answer in (("search data search", "phrase", oracle.search_phrase),
                              ("data engine or search web", "web", oracle.search_websearch)):
        plan = W.plan_query(oracle, q, K, syntax=syntax)
        by_term = {t: _rep(lists[t], rep) for t in plan.scan_terms}
        term_of = {id(x): t for t, x in by_term.items()}
        probes = Counter()
        real = W._probe_any
        monkeypatch.setattr(
            W, "_probe_any",
            lambda x, cand, **kw: probes.update([term_of.get(id(x))]) or real(x, cand, **kw),
        )
        res = W.evaluate(plan, by_term, {t: oracle.idf(t) for t in by_term}, oracle.avgdl, K)
        monkeypatch.undo()
        probes.pop(None, None)  # lookups in lists the kernel already decoded
        assert probes and set(probes.values()) == {1}, (q, probes)
        got = sorted(((docid_of[int(key)], float(s)) for key, s in res),
                     key=lambda r: (-r[1], r[0]))[:K]
        assert got == answer(q, k=K)


def _plain(n_last_lid: int) -> codec.EncodedList:
    lids = np.array([0, 5, n_last_lid], dtype=np.uint64)
    ones = np.ones(3, dtype=np.uint64)
    return codec.encode_postings(lids, ones, ones * 7)


def test_fuse_refuses_keys_that_do_not_fit():
    """Key packing refuses a lid of 2**32 or more (the list's last
    bmax_docid) and a shard outside [0, 2**31), so two postings can never
    share a key; the largest lid and shard that fit key exactly."""
    with pytest.raises(ValueError, match="2\\*\\*32"):
        codec.fuse([[(0, _plain(1 << 32))]])
    with pytest.raises(ValueError, match="2\\*\\*31"):
        codec.fuse([[(1 << 31, _plain(9))]])
    with pytest.raises(ValueError, match="2\\*\\*31"):
        codec.fuse([[(3, _plain(9))], [(-1, _plain(9))]])
    top = (1 << 31) - 1
    fused, one = codec.fuse([[(3, _plain(9)), (top, _plain((1 << 32) - 1))], [(5, _plain(7))]])
    pl = codec.decode_postings(fused)
    assert pl.docids.tolist() == [(3 << 32) | 0, (3 << 32) | 5, (3 << 32) | 9,
                                  top << 32, (top << 32) | 5, (top << 32) | 0xFFFFFFFF]
    assert fused.bmax_docid.tolist() == [(3 << 32) | 9, (top << 32) | 0xFFFFFFFF]
    assert codec.decode_postings(one).docids.tolist() == [5 << 32, (5 << 32) | 5, (5 << 32) | 7]
