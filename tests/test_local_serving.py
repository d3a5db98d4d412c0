"""ServingIndex (query/local.py) — the Spark-free serving-node path must
be bit-exact with the Spark plans on every query mode: it runs the same
kernels over the same encoded rows, so any divergence is an I/O or
translation bug."""

import pytest

from honeywell_search_engine_spark.query.local import ServingIndex
from honeywell_search_engine_spark.query.wand import bm25_topk_phrase, bm25_topk_wand
from honeywell_search_engine_spark.sources.pages import marker_term, reference_queries


@pytest.fixture(scope="module")
def serving(seg_index):
    return ServingIndex(seg_index.path)


def test_serving_matches_spark_and_or(spark, seg_index, serving):
    for qid, q in reference_queries().items():
        for mode in ("and", "or"):
            exp = [
                (r["docid"], r["score"])
                for r in bm25_topk_wand(seg_index, q, k=10, mode=mode).collect()
            ]
            assert serving.search(q, k=10, mode=mode) == exp, (qid, mode)


def test_serving_matches_spark_phrase_near(spark, seg_index, serving, pages_pdf):
    from honeywell_search_engine_spark.functions.analyzer import analyze

    en = pages_pdf[pages_pdf.lang == "en"]
    phrases = [
        " ".join(analyze(en.text.iloc[3])[:2]),
        " ".join(analyze(en.text.iloc[11])[:3]),
        "data search",
    ]
    for ph in phrases:
        for slop in (0, 2):
            exp = [
                (r["docid"], r["score"])
                for r in bm25_topk_phrase(seg_index, ph, k=10, slop=slop).collect()
            ]
            assert serving.search_phrase(ph, k=10, slop=slop) == exp, (ph, slop)


def test_serving_scope_and_degenerates(spark, seg_index, serving):
    q = marker_term(0)
    hits = [r["docid"] for r in bm25_topk_wand(seg_index, q, k=100).collect()]
    assert len(hits) >= 3
    scope = hits[:2] + [123456789]  # two real + one unknown docid
    exp = [
        (r["docid"], r["score"])
        for r in bm25_topk_wand(seg_index, q, k=10, allowed_docids=scope).collect()
    ]
    assert serving.search(q, k=10, allowed_docids=scope) == exp
    assert serving.search("", k=10) == []
    assert serving.search("zzzznotaterm", k=10) == []
    assert serving.search(f"{q} zzzznotaterm", k=10) == []  # AND w/ unknown


def test_serving_respects_tombstones(spark, pages_path, tmp_path):
    from honeywell_search_engine_spark.index.corpus import docs_from_pages, tokenized_docs
    from honeywell_search_engine_spark.index.maintenance import delete_docs
    from honeywell_search_engine_spark.index.segments import SegmentIndex, build_segments
    from honeywell_search_engine_spark.sources.pages import read_pages

    out = str(tmp_path / "idx")
    pages = read_pages(spark, pages_path)
    build_segments(
        tokenized_docs(docs_from_pages(pages)), out, pages_path,
        n_buckets=8, n_shards=4, buckets_per_job=8,
    )
    idx = SegmentIndex(spark, out)
    q = marker_term(1)
    before = [r["docid"] for r in bm25_topk_wand(idx, q, k=100).collect()]
    victims = before[:2]
    delete_docs(out, victims, reason="serving test")
    idx2 = SegmentIndex(spark, out)  # fresh snapshot sees tombstones
    sv = ServingIndex(out)
    exp = [
        (r["docid"], r["score"])
        for r in bm25_topk_wand(idx2, q, k=100).collect()
    ]
    got = sv.search(q, k=100)
    assert got == exp
    assert not set(victims) & {d for d, _ in got}


def test_cached_searcher_local_misses_equal_spark_path(spark, seg_index):
    from honeywell_search_engine_spark.query.cache import CachedSearcher

    cs = CachedSearcher(seg_index)
    qs = list(reference_queries().values())[:6]
    exp = {
        q: [(r["docid"], r["score"]) for r in bm25_topk_wand(seg_index, q, k=10).collect()]
        for q in qs
    }
    for q in qs:
        assert cs.search(q, k=10) == exp[q], q
    assert cs.misses == 6
    # repeat -> hits, same rows
    for q in qs:
        assert cs.search(q, k=10) == exp[q], q
    assert cs.hits == 6


def test_cached_searcher_reload_onto_new_index(spark, seg_index, tmp_path):
    """reload(index) re-opens the serving node on the NEW index's
    directory: afterwards the cache answers as a fresh ServingIndex over
    that directory does, not as the old one."""
    import shutil

    from honeywell_search_engine_spark.index.maintenance import delete_docs
    from honeywell_search_engine_spark.index.segments import SegmentIndex
    from honeywell_search_engine_spark.query.cache import CachedSearcher

    second = str(tmp_path / "idx2")
    shutil.copytree(seg_index.path, second)
    cs = CachedSearcher(seg_index)
    before = cs.search("data search", k=10)
    delete_docs(second, [d for d, _ in before[:3]], reason="reload test")
    expected = ServingIndex(second).search("data search", k=10)
    assert expected != before  # the second directory answers differently
    cs.reload(index=SegmentIndex(spark, second))
    assert cs.index.path == second
    assert cs.search("data search", k=10) == expected


def test_serving_matches_spark_near_unordered(spark, seg_index, serving, pages_pdf):
    from honeywell_search_engine_spark.functions.analyzer import analyze
    from honeywell_search_engine_spark.query.wand import bm25_topk_near_unordered

    en = pages_pdf[pages_pdf.lang == "en"]
    toks = analyze(en.text.iloc[11])
    pair = f"{toks[0]} {toks[2]}"
    for dist in (1, 3):
        exp = [
            (r["docid"], r["score"])
            for r in bm25_topk_near_unordered(
                seg_index, pair, k=10, dist=dist
            ).collect()
        ]
        assert serving.search_near_unordered(pair, k=10, dist=dist) == exp, dist
        assert exp  # the derived pair actually matches


def test_decode_through_parity_with_encoded_kernels(
    spark, seg_index, serving, oracle, monkeypatch
):
    """Both kernel regimes of the serving path are bit-exact with the
    oracle on every mode, including negation, scope, and the
    positions-upgrade path (an entry cached WITHOUT positions by an AND
    query must still serve a later phrase query correctly): the full-scan
    kernels over decoded PostingLists (lists under FULLSCAN_MAX_POSTINGS —
    the natural case at this corpus size) and the MemoList block-walk
    kernels (forced by dropping the threshold to 0, the Zipf-head-term
    regime at scale) for AND, OR, websearch, phrase and NEAR."""
    import honeywell_search_engine_spark.query.local as L

    memo_sv = ServingIndex(seg_index.path)  # separate LRU for the 0-threshold regime
    q0, q1 = marker_term(0), marker_term(1)
    web = [f"{q0} -{q1}", '"data search" engine', f"{q0} or {q1}"]

    def check(sv):
        for qid, q in reference_queries().items():
            assert sv.search(q, k=10) == oracle.search(q, k=10), qid
            assert sv.search(q, k=10, mode="or") == oracle.search_or(q, k=10), qid
        for q in web:
            assert sv.search_websearch(q, k=10) == oracle.search_websearch(q, k=10), q
        for slop in (0, 2):
            assert sv.search_phrase("data search", k=10, slop=slop) == (
                oracle.search_phrase("data search", k=10, slop=slop)
            )
        assert sv.search_near_unordered("data engine", k=10, dist=3) == (
            oracle.search_near_unordered("data engine", k=10, dist=3)
        )

    check(serving)
    monkeypatch.setattr(L, "FULLSCAN_MAX_POSTINGS", 0)
    try:
        check(memo_sv)
    finally:
        monkeypatch.undo()
    # negation (websearch '-term') and scope through the decoded path
    assert serving.search(q0, k=10, exclude_terms=[q1]) == oracle.search(
        q0, k=10, exclude=[q1]
    )
    hits = [d for d, _ in oracle.search(q0, k=100)]
    scope = hits[: max(1, len(hits) // 2)]
    assert serving.search(q0, k=10, allowed_docids=scope) == oracle.search(
        q0, k=10, allowed=scope
    )
    # positions-upgrade: a fresh instance runs an AND query first
    # (caches postings WITHOUT positions), then a phrase query over the
    # same terms must upgrade the entries in place and match
    fresh = ServingIndex(seg_index.path)
    ph = "data search"
    _ = fresh.search(ph, k=10, mode="and")  # caches w/o positions
    assert fresh.search_phrase(ph, k=10) == oracle.search_phrase(ph, k=10)
    # and the upgraded entries still serve AND identically
    assert fresh.search(ph, k=10, mode="and") == oracle.search(ph, k=10)


def test_decode_through_websearch_multigroup_parity(
    spark, seg_index, serving, oracle, monkeypatch
):
    """Multi-group websearch (OR keyword, quoted phrases, negated quoted
    phrases) over decoded PostingLists and over MemoLists must equal the
    oracle bit-exactly — covers wand._probe_any's PostingList branches in
    _websearch_match, _phrase_mask, and the OR scoring probe."""
    import honeywell_search_engine_spark.query.local as L

    q0, q1 = marker_term(0), marker_term(1)
    queries = [
        f"{q0} or {q1}",
        '"data search" engine',
        f'{q0} -"data search"',
        f'"data search" or {q1}',
        'web -"search engine" or "data search"',
    ]
    for q in queries:
        assert serving.search_websearch(q, k=10) == oracle.search_websearch(
            q, k=10
        ), q
    memo_sv = ServingIndex(seg_index.path)
    monkeypatch.setattr(L, "FULLSCAN_MAX_POSTINGS", 0)
    for q in queries:
        assert memo_sv.search_websearch(q, k=10) == oracle.search_websearch(
            q, k=10
        ), q


def test_decoded_lru_byte_budget(spark, seg_index, serving, oracle):
    """The decoded-postings LRU is byte-budgeted: entries evict in LRU
    order when the budget is exceeded, accounting stays consistent under
    the positions-upgrade path, and results stay correct under a budget
    so small that nothing can be retained."""
    qs = list(reference_queries().values())
    # tiny budget: every entry exceeds it -> serve-uncached path
    tiny = ServingIndex(seg_index.path, dec_cache_bytes=1)
    for q in qs[:6]:
        assert tiny.search(q, k=10) == oracle.search(q, k=10), q
    assert len(tiny._dec_lru) == 0
    assert tiny._dec_bytes == 0
    # moderate budget: cache holds some entries, total tracked exactly
    mod = ServingIndex(seg_index.path, dec_cache_bytes=64 << 10)
    for q in qs:
        assert mod.search(q, k=10) == oracle.search(q, k=10), q
    assert 0 < mod._dec_bytes <= 64 << 10
    assert mod._dec_bytes == sum(ml.nbytes for ml in mod._dec_lru.values())
    # upgrade path: phrase over terms already cached without positions
    before = mod._dec_bytes
    mod.search_phrase("data search", k=10)
    assert mod._dec_bytes == sum(ml.nbytes for ml in mod._dec_lru.values())
    assert mod._dec_bytes >= 0 and mod._dec_bytes <= 64 << 10
    # default budget retains everything at this corpus scale
    assert serving._dec_bytes == sum(
        ml.nbytes for ml in serving._dec_lru.values()
    )


def test_shard_router_matches_full_index(spark, seg_index, serving):
    """A ShardRouter over shard-subset nodes must be bit-identical to one
    full-index ServingIndex on every query mode — per-node df must be
    GLOBAL (a node computing idf from its own shards would score
    differently and break the merge)."""
    from honeywell_search_engine_spark.query.local import ShardRouter

    router = ShardRouter(seg_index.path, n_nodes=3)
    # each node holds only its shards' docmap
    import json as _json

    with open(f"{seg_index.path}/stats.json") as f:
        n_shards = int(_json.load(f)["n_shards"])
    owned = []
    for n in router.nodes:
        assert set((n._keys >> 32).tolist()) <= set(n._shards)
        owned.extend(n._shards)
    assert sorted(owned) == list(range(n_shards))
    for qid, q in reference_queries().items():
        for mode in ("and", "or"):
            assert router.search(q, k=10, mode=mode) == serving.search(
                q, k=10, mode=mode
            ), (qid, mode)
    q0, q1 = marker_term(0), marker_term(1)
    assert router.search_websearch(f"{q0} or {q1}", k=10) == (
        serving.search_websearch(f"{q0} or {q1}", k=10)
    )
    assert router.search_websearch('"data search" -engine', k=10) == (
        serving.search_websearch('"data search" -engine', k=10)
    )
    assert router.search_phrase("data search", k=10) == serving.search_phrase(
        "data search", k=10
    )
    assert router.search_near_unordered(
        "data engine", k=10, dist=3
    ) == serving.search_near_unordered("data engine", k=10, dist=3)
    # posting payload rows on a node are restricted to its shards
    node = router.nodes[0]
    _df, rows = node._rows_for([q0])
    assert rows[q0] is not None
    assert set((rows[q0].bmax_docid >> 32).tolist()) <= set(node._shards)


def test_and_or_entry_holds_no_positions(seg_index, oracle):
    """AND/OR queries cache their terms' lists without the positions
    stream; a later phrase query over those terms reads the positions on
    first use and answers as the oracle does."""
    sv = ServingIndex(seg_index.path)
    assert sv.search("data search", k=10) == oracle.search("data search", k=10)
    assert sv.search("data engine", k=10, mode="or") == oracle.search_or("data engine", k=10)
    for t in ("data", "search", "engine"):
        _df, enc, with_pos = sv._term_lru[t]
        assert enc is not None and not with_pos
        assert enc.positions == b"" and enc.p_off is None
    exp = oracle.search_phrase("data search", k=10)
    assert exp and sv.search_phrase("data search", k=10) == exp
    for t in ("data", "search"):
        _df, enc, with_pos = sv._term_lru[t]
        assert with_pos and enc.positions and enc.p_off is not None
    assert not sv._term_lru["engine"][2]


def test_cold_read_prunes_row_groups(seg_index, serving, tmp_path, monkeypatch):
    """On a copy of the index with one bucket rewritten term-sorted into
    several row groups, a cold query reads only the row groups whose term
    min/max can hold one of its terms, and answers as the untouched
    index does."""
    import glob
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from honeywell_search_engine_spark.index.segments import bucket_of

    idx = str(tmp_path / "idx")
    shutil.copytree(seg_index.path, idx)
    b = bucket_of("data", serving.n_buckets)
    files = glob.glob(f"{idx}/segments/bucket={b}/*.parquet")
    tbl = pa.concat_tables([pq.ParquetFile(f).read() for f in files]).sort_by("term")
    for f in files:
        os.remove(f)
    sorted_file = f"{idx}/segments/bucket={b}/part-sorted.parquet"
    pq.write_table(tbl, sorted_file, row_group_size=max(1, tbl.num_rows // 8))
    md = pq.read_metadata(sorted_file)
    assert md.num_row_groups >= 8
    stats = [md.row_group(i).column(0).statistics for i in range(md.num_row_groups)]
    vocab = sorted(set(tbl.column("term").to_pylist()))
    q = ["data", vocab[len(vocab) // 2]]  # two terms of bucket b
    hold = [i for i, st in enumerate(stats) if any(st.min <= t <= st.max for t in q)]
    assert len(hold) < md.num_row_groups

    qs = " ".join(q)
    exp = serving.search(qs, k=10, mode="or")
    assert exp
    reads = []
    real = pq.ParquetFile.read_row_groups

    def spy(self, row_groups, *a, **kw):
        reads.append(list(row_groups))
        return real(self, row_groups, *a, **kw)

    monkeypatch.setattr(pq.ParquetFile, "read_row_groups", spy)
    sv = ServingIndex(idx)
    assert sv.search(qs, k=10, mode="or") == exp
    assert reads == [hold]
    monkeypatch.undo()
    assert sv.search(qs, k=10) == serving.search(qs, k=10)
    assert sv.search_phrase("data search", k=10) == serving.search_phrase("data search", k=10)


@pytest.mark.parametrize("n_nodes", [0, -1])
def test_shard_router_rejects_no_nodes(seg_index, n_nodes):
    from honeywell_search_engine_spark.query.local import ShardRouter

    with pytest.raises(ValueError, match="n_nodes"):
        ShardRouter(seg_index.path, n_nodes=n_nodes)


def test_shard_router_plans_each_query_once(seg_index, serving, monkeypatch):
    """The router analyzes a query once and hands the one plan to every
    node — not once per node."""
    from honeywell_search_engine_spark.query import wand
    from honeywell_search_engine_spark.query.local import ShardRouter

    router = ShardRouter(seg_index.path, n_nodes=3)
    assert len(router.nodes) == 3
    cases = (
        ("search", "data search"),
        ("search_websearch", '"data search" or engine -web'),
        ("search_phrase", "data search"),
    )
    exp = {name: getattr(serving, name)(q, k=10) for name, q in cases}
    calls = []
    real = wand.plan_query
    monkeypatch.setattr(
        wand, "plan_query", lambda *a, **kw: calls.append(a[1]) or real(*a, **kw)
    )
    for name, q in cases:
        calls.clear()
        assert getattr(router, name)(q, k=10) == exp[name], name
        assert calls == [q], name


def test_shard_router_docs_store_on_fetch_node(spark, seg_index, pages_path, tmp_path):
    """The router fetches response texts through its first node only, so
    only that node holds the docs store; a reload keeps it attached."""
    from honeywell_search_engine_spark.index.corpus import docs_from_pages
    from honeywell_search_engine_spark.query.local import ShardRouter
    from honeywell_search_engine_spark.sources.pages import read_pages

    docs_path = str(tmp_path / "docs")
    (
        docs_from_pages(read_pages(spark, pages_path))
        .select("docid", "text")
        .write.parquet(docs_path)
    )
    sv = ServingIndex(seg_index.path)
    sv.attach_docs(docs_path)
    router = ShardRouter(seg_index.path, n_nodes=3)
    router.attach_docs(docs_path)
    assert [hasattr(n, "_docs_path") for n in router.nodes] == [True, False, False]
    router.reload()
    q = list(reference_queries().values())[0]
    assert router.search_response(q, k=5) == sv.search_response(q, k=5)


def test_reload_keeps_doc_cache_cap(spark, seg_index, pages_path, tmp_path):
    """reload() re-attaches the docs store with the document-cache cap it
    was attached with — on a node and through a router — and the cap
    still bounds the document LRU."""
    from honeywell_search_engine_spark.index.corpus import docs_from_pages
    from honeywell_search_engine_spark.query.local import ShardRouter
    from honeywell_search_engine_spark.sources.pages import read_pages

    docs_path = str(tmp_path / "docs")
    (
        docs_from_pages(read_pages(spark, pages_path))
        .select("docid", "text")
        .write.parquet(docs_path)
    )
    sv = ServingIndex(seg_index.path)
    sv.attach_docs(docs_path, doc_cache_entries=2)
    router = ShardRouter(seg_index.path, n_nodes=2)
    router.attach_docs(docs_path, doc_cache_entries=2)
    q = list(reference_queries().values())[0]
    for fe, node in ((sv, sv), (router, router.nodes[0])):
        fe.reload()
        assert node._doc_cap == 2
        assert len(fe.search_response(q, k=5)) > 2
        assert len(node._doc_lru) <= 2


def test_query_surface_signatures_match():
    """ServingIndex, ShardRouter and GenerationSet expose one query
    surface: the same five methods with the same signatures."""
    import inspect

    from honeywell_search_engine_spark.query.generations import GenerationSet
    from honeywell_search_engine_spark.query.local import ShardRouter

    for name in ("search", "search_websearch", "search_phrase",
                 "search_near_unordered", "search_response"):
        sigs = {inspect.signature(getattr(c, name))
                for c in (ServingIndex, ShardRouter, GenerationSet)}
        assert len(sigs) == 1, (name, sigs)


def test_decoded_lru_oversize_entry_served_uncached(seg_index, oracle):
    """A single term's entry larger than the WHOLE decoded-cache budget
    must be served uncached without touching the LRU — the pre-fix code
    inserted it first and then popped from the LRU end until under
    budget, flushing every warm entry before discarding the oversize one
    (a Zipf head term at scale would wipe the cache on every query that
    touched it)."""
    from honeywell_search_engine_spark.functions.analyzer import analyze

    # one-shard nodes, so a search for a term touches exactly one entry,
    # its list over that shard
    shard = 0
    probe = ServingIndex(seg_index.path, shards=[shard])
    for q in reference_queries().values():
        probe.search(q, k=10)
    cands = [(t, ml) for t, ml in probe._dec_lru.items() if analyze(t) == [t]]
    big_term, big_ml = max(cands, key=lambda kv: kv[1].nbytes)
    budget = big_ml.nbytes - 1
    small = [
        (t, ml.nbytes)
        for t, ml in cands
        if t != big_term and ml.nbytes <= budget // 2
    ]
    assert small, "fixture corpus too uniform for this test"
    small_term = min(small, key=lambda kv: kv[1])[0]

    def expected(term):  # the oracle's ranking restricted to this node's shard
        hits = oracle.search(term, k=len(oracle.doclen))
        return [(d, v) for d, v in hits if d % probe.n_shards == shard][:10]

    sv = ServingIndex(seg_index.path, shards=[shard], dec_cache_bytes=budget)
    assert sv.search(small_term, k=10) == expected(small_term)
    warm = set(sv._dec_lru)
    assert small_term in warm
    # the oversize term: correct results, warm set untouched, not cached
    assert sv.search(big_term, k=10) == expected(big_term)
    assert set(sv._dec_lru) == warm
    assert big_term not in sv._dec_lru
    assert sv._dec_bytes == sum(ml.nbytes for ml in sv._dec_lru.values())


def test_cached_searcher_warm(seg_index):
    """CachedSearcher.warm replays a query log: every entry lands in the
    LRU (subsequent identical queries are pure hits, identical rows),
    bare strings mean AND search, duplicates are not recomputed, and
    unknown kinds fail loudly."""
    import pytest as _pytest

    from honeywell_search_engine_spark.query.cache import CachedSearcher

    qs = list(reference_queries().values())[:4]
    log = [
        ("q", qs[0], 10),
        ("q", qs[1], 10, "or"),
        ("w", f"{qs[2]} -zzzznotaterm", 10),
        ("p", "data search", 10, 0),
        ("nu", "data engine", 10, 3),
        qs[3],                      # bare string -> AND search
        ("q", qs[0], 10),           # duplicate -> hit, not a new miss
    ]
    cs = CachedSearcher(seg_index)
    n = cs.warm(log)
    assert n == 6                   # 7 entries, 1 duplicate
    assert cs.hits == 1 and cs.misses == 6
    # replaying the stream is all hits with identical rows
    ref = CachedSearcher(seg_index)
    assert cs.search(qs[0], k=10) == ref.search(qs[0], k=10)
    assert cs.search(qs[1], k=10, mode="or") == ref.search(
        qs[1], k=10, mode="or"
    )
    assert cs.search_phrase("data search", k=10, slop=0) == (
        ref.search_phrase("data search", k=10, slop=0)
    )
    assert cs.search_near_unordered("data engine", k=10, dist=3) == (
        ref.search_near_unordered("data engine", k=10, dist=3)
    )
    assert cs.search(qs[3], k=10) == ref.search(qs[3], k=10)
    assert cs.misses == 6           # nothing recomputed
    with _pytest.raises(ValueError, match="query-log kind"):
        cs.warm([("xx", "nope")])


def test_shard_router_full_public_surface(spark, seg_index, serving, tmp_path):
    """Every public ServingIndex method must be available on ShardRouter
    and equal the full-index instance: the four search modes with their
    options (scoped, OR mode, negation), plus the dictionary surface
    (suggest / correct_terms / did_you_mean — index-global metadata,
    routed to one node)."""
    from honeywell_search_engine_spark.query.local import ShardRouter
    from honeywell_search_engine_spark.query.suggest import build_spell_table

    router = ShardRouter(seg_index.path, n_nodes=3)
    q0 = marker_term(0)
    # scoped + OR + negation options ride the fan-out kwargs
    hits = [d for d, _ in serving.search(q0, k=100)]
    scope = hits[:3] + [987654321]
    assert router.search(q0, k=10, allowed_docids=scope) == serving.search(
        q0, k=10, allowed_docids=scope
    )
    for q in list(reference_queries().values())[:4]:
        assert router.search(q, k=10, mode="or") == serving.search(
            q, k=10, mode="or"
        ), q
    assert router.search(
        "data search", k=10, exclude_terms=["engine"]
    ) == serving.search("data search", k=10, exclude_terms=["engine"])
    # dictionary surface
    for p in ("da", "se", "eng", "zzz"):
        assert router.suggest(p, k=10) == serving.suggest(p, k=10), p
    spell_dir = str(tmp_path / "spell")
    build_spell_table(seg_index.term_stats, max_edit=2, out_dir=spell_dir)
    qs = ["serch", "data", "enginee"]
    assert router.correct_terms(qs, spell_dir) == serving.correct_terms(
        qs, spell_dir
    )
    assert router.did_you_mean("data serch", spell_dir) == (
        serving.did_you_mean("data serch", spell_dir)
    )


def test_cached_searcher_search_response(spark, seg_index, pages_path, tmp_path):
    """CachedSearcher.search_response memoizes the FULL API row (the
    reference's result cache caches the response, not just ids): rows
    equal the uncached serving path, repeats are hits, the 'r' kind
    warms through the query log, and without an attached store it fails
    loudly."""
    import pytest as _pytest

    from honeywell_search_engine_spark.index.corpus import docs_from_pages
    from honeywell_search_engine_spark.query.cache import CachedSearcher
    from honeywell_search_engine_spark.sources.pages import read_pages

    docs_path = str(tmp_path / "docs")
    (
        docs_from_pages(read_pages(spark, pages_path))
        .select("docid", "text")
        .write.parquet(docs_path)
    )
    sv = ServingIndex(seg_index.path)
    sv.attach_docs(docs_path)
    cs = CachedSearcher(seg_index)
    cs.attach_docs(docs_path)
    qs = list(reference_queries().values())[:3]
    for q in qs:
        assert cs.search_response(q, k=5) == sv.search_response(q, k=5), q
    assert cs.misses == 3
    for q in qs:
        cs.search_response(q, k=5)
    assert cs.hits == 3
    # rerank variant keys separately and matches the serving path
    assert cs.search_response(qs[0], k=5, rerank_from=20) == (
        sv.search_response(qs[0], k=5, rerank_from=20)
    )
    assert cs.misses == 4
    # warm() accepts the 'r' kind
    cs2 = CachedSearcher(seg_index)
    cs2.attach_docs(docs_path)
    assert cs2.warm([("r", qs[0], 5)]) == 1
    assert cs2.search_response(qs[0], k=5) == sv.search_response(qs[0], k=5)
    assert cs2.hits == 1
    # without an attached store the response surface fails loudly
    with _pytest.raises(ValueError, match="attach_docs"):
        CachedSearcher(seg_index).search_response(qs[0])


def test_doc_text_lru(spark, seg_index, pages_path, tmp_path):
    """The serving document cache: repeated/overlapping hit sets reuse
    fetched texts (only misses touch the store), responses stay
    identical, and the LRU respects its entry cap."""
    from honeywell_search_engine_spark.index.corpus import docs_from_pages
    from honeywell_search_engine_spark.sources.pages import read_pages

    docs_path = str(tmp_path / "docs")
    (
        docs_from_pages(read_pages(spark, pages_path))
        .select("docid", "text")
        .write.parquet(docs_path)
    )
    sv = ServingIndex(seg_index.path)
    sv.attach_docs(docs_path)
    ref = ServingIndex(seg_index.path)
    ref.attach_docs(docs_path)
    q = list(reference_queries().values())[0]
    exp = ref.search_response(q, k=5)
    assert sv.search_response(q, k=5) == exp
    cached_ids = set(sv._doc_lru)
    assert cached_ids == {d for _, d, *_ in exp}
    # second pass: all texts come from the LRU (store fetch not needed)
    sv._docs_ds = None  # any store read would now raise
    assert sv.search_response(q, k=5) == exp
    # cap binds
    sv._docs_ds = ref._docs_ds
    sv._doc_cap = 3
    sv.search_response(list(reference_queries().values())[1], k=5)
    assert len(sv._doc_lru) <= 3
