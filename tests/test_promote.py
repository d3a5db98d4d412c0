"""Segment-splice promotion (index/promote.py): folding a delta
generation index into the base by block-granular byte concatenation must
be query-for-query bit-identical to an index built from scratch over the
union corpus — and must interoperate with every maintenance path
(tombstones/compact, merge_deltas, encode_pending_buckets' re-derivation
of a bucket from its segment rows). Segments are the one durable copy of
the postings: no writer leaves occurrence rows behind."""

import json
import os
import shutil

import numpy as np
import pytest

from honeywell_search_engine_spark.index import codec
from honeywell_search_engine_spark.index.corpus import (
    docs_from_pages,
    tokenized_docs,
)
from honeywell_search_engine_spark.index.promote import (
    promote_generation,
    should_promote,
    splice_encoded,
)
from honeywell_search_engine_spark.index.segments import build_segments
from honeywell_search_engine_spark.query.local import ServingIndex
from honeywell_search_engine_spark.sources.pages import (
    PAGES_SCHEMA,
    generate_pages_pdf,
    marker_term,
)

N_BUCKETS, N_SHARDS = 8, 4

QUERIES = [
    "data search",
    "web engine",
    "data",
    "index query",
    marker_term(0),
    marker_term(2),
    "zzzznotaterm",
]


def _write_pages(spark, pdf, lo, hi, path):
    os.makedirs(path, exist_ok=True)
    spark.createDataFrame(pdf.iloc[lo:hi], schema=PAGES_SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(path)


def _build(spark, pages_dir, out_dir, **kw):
    pages = spark.read.schema(PAGES_SCHEMA).parquet(pages_dir)
    build_segments(
        tokenized_docs(docs_from_pages(pages)), out_dir, pages_dir,
        n_buckets=N_BUCKETS, n_shards=N_SHARDS, buckets_per_job=N_BUCKETS,
        **kw,
    )


def _all_results(idx: ServingIndex, k: int = 12) -> dict:
    out = {}
    for q in QUERIES:
        out[("and", q)] = idx.search(q, k=k)
        out[("or", q)] = idx.search_websearch(q.replace(" ", " OR ") if " " in q else q, k=k)
    out[("ws", 1)] = idx.search_websearch('"web search" -spam', k=k)
    out[("phrase", 1)] = idx.search_phrase("web search", k=k)
    out[("near", 1)] = idx.search_near_unordered("data search", k=k, dist=4)
    return out


@pytest.fixture(scope="module")
def promote_fixture(spark, tmp_path_factory):
    """base over docs 0..250, delta generation over docs 250..400
    (DISJOINT docids — the append-only crawl case), scratch oracle over
    the union 0..400. Returns (root, base_idx, delta_idx, scratch_idx,
    promoted_idx, pdf)."""
    root = tmp_path_factory.mktemp("promote")
    pdf = generate_pages_pdf(400)

    base_pages = str(root / "pages_base")
    delta_pages = str(root / "pages_delta")
    union_pages = str(root / "pages_union")
    _write_pages(spark, pdf, 0, 250, base_pages)
    _write_pages(spark, pdf, 250, 400, delta_pages)
    _write_pages(spark, pdf, 0, 400, union_pages)

    base_idx = str(root / "idx_base")
    delta_idx = str(root / "idx_delta")
    scratch_idx = str(root / "idx_scratch")
    _build(spark, base_pages, base_idx)
    _build(spark, delta_pages, delta_idx)
    _build(spark, union_pages, scratch_idx)

    promoted_idx = str(root / "idx_promoted")
    shutil.copytree(base_idx, promoted_idx)
    summary = promote_generation(spark, promoted_idx, delta_idx)
    assert summary["docs_added"] > 100
    assert summary["affected_buckets"] >= 1
    return root, base_idx, delta_idx, scratch_idx, promoted_idx, pdf


# --------------------------------------------------------------------------
# splice kernel unit tests (pure numpy, no Spark)
# --------------------------------------------------------------------------


def _mk_list(rng, n, hi, fmt, with_pos=True):
    docids = np.sort(
        rng.choice(np.arange(0, hi, dtype=np.uint64), size=n, replace=False)
    )
    tfs = rng.randint(1, 5, size=n).astype(np.uint64)
    doclens = rng.randint(5, 300, size=n).astype(np.uint64)
    pos = None
    if with_pos:
        pos = np.concatenate(
            [
                np.sort(
                    rng.choice(
                        np.arange(0, 500, dtype=np.uint64),
                        size=int(t),
                        replace=False,
                    )
                )
                for t in tfs
            ]
        )
    enc = codec.encode_postings(docids, tfs, doclens, positions=pos, fmt=fmt)
    return docids, tfs, doclens, pos, enc


@pytest.mark.parametrize("fb,fd", [("vb", "vb"), ("pfor", "pfor"), ("pfor", "vb")])
@pytest.mark.parametrize(
    "nb,nd",
    [(0, 3), (1, 1), (127, 128), (128, 5), (128, 300), (129, 128), (517, 131)],
)
def test_splice_equals_scratch_encode(nb, nd, fb, fd):
    """splice_encoded == encode_postings over the concatenated raw arrays,
    byte-for-byte including block metadata, for every seam shape: empty
    base, sub-block base, exact block boundary (the pass-through fast
    path), partial tail, multi-block, and mixed codecs."""
    if nb == 0 and fb != fd:
        pytest.skip("delta-only keeps its own codec")
    rng = np.random.RandomState(nb * 1000 + nd)
    if nb:
        b_doc, b_tf, b_dl, b_pos, b_enc = _mk_list(rng, nb, nb * 4, fb)
        off = int(b_doc[-1]) + 1 + int(rng.randint(0, 5))
    else:
        b_doc = np.zeros(0, dtype=np.uint64)
        b_tf, b_dl = b_doc.copy(), b_doc.copy()
        b_pos, b_enc, off = np.zeros(0, dtype=np.uint64), None, 7
    d_doc, d_tf, d_dl, d_pos, d_enc = _mk_list(rng, nd, nd * 4, fd)

    sp = splice_encoded(b_enc, d_enc, off)
    e_doc = np.concatenate([b_doc, d_doc + np.uint64(off)])
    exp = codec.encode_postings(
        e_doc,
        np.concatenate([b_tf, d_tf]),
        np.concatenate([b_dl, d_dl]),
        positions=np.concatenate([b_pos, d_pos]),
        fmt=(fb if nb else fd),
    )
    assert sp.n == exp.n and sp.fmt == exp.fmt
    for f in ("bmax_docid", "bmax_u", "d_off", "t_off", "l_off", "p_off"):
        assert np.array_equal(getattr(sp, f), getattr(exp, f)), f
    for f in ("deltas", "tfs", "doclens", "positions"):
        assert getattr(sp, f) == getattr(exp, f), f
    # selective block decode stays exact over the spliced list
    nblocks = sp.bmax_docid.size
    sel = np.unique(rng.choice(nblocks, size=min(3, nblocks), replace=False))
    blk = codec.decode_blocks(sp, sel, with_positions=True, flat_positions=True)
    idx = np.concatenate(
        [np.arange(b * codec.BLOCK, min((b + 1) * codec.BLOCK, sp.n)) for b in sel]
    )
    assert np.array_equal(blk.docids, e_doc[idx])


def test_splice_rejects_interleaved_offset():
    rng = np.random.RandomState(0)
    *_, b_enc = _mk_list(rng, 50, 200, "vb")
    *_, d_enc = _mk_list(rng, 10, 40, "vb")
    with pytest.raises(ValueError, match="never interleave"):
        splice_encoded(b_enc, d_enc, 3)


def test_splice_rejects_mixed_positionality():
    rng = np.random.RandomState(1)
    *_, b_enc = _mk_list(rng, 50, 200, "vb", with_pos=True)
    *_, d_enc = _mk_list(rng, 10, 40, "vb", with_pos=False)
    with pytest.raises(ValueError, match="positional"):
        splice_encoded(b_enc, d_enc, 500)


# --------------------------------------------------------------------------
# end-to-end promotion
# --------------------------------------------------------------------------


def test_promote_stats_match_scratch(promote_fixture):
    _, _, _, scratch_idx, promoted_idx, _ = promote_fixture
    p, s = ServingIndex(promoted_idx), ServingIndex(scratch_idx)
    assert p.n_docs == s.n_docs
    assert p.avgdl == pytest.approx(s.avgdl, rel=0, abs=1e-12)


def test_promote_queries_bitexact_vs_scratch(promote_fixture):
    _, _, _, scratch_idx, promoted_idx, _ = promote_fixture
    p, s = ServingIndex(promoted_idx), ServingIndex(scratch_idx)
    rp, rs = _all_results(p), _all_results(s)
    assert rp == rs  # same docids AND bit-identical float64 scores


def test_promote_term_stats_exact(promote_fixture):
    import pyarrow.parquet as pq

    _, _, _, scratch_idx, promoted_idx, _ = promote_fixture

    def stats_map(idx):
        t = pq.read_table(f"{idx}/term_stats")
        return {
            r["term"]: (r["df"], r["ctf"], r["idf"]) for r in t.to_pylist()
        }

    assert stats_map(promoted_idx) == stats_map(scratch_idx)


def test_base_only_rows_passthrough_byte_identical(promote_fixture):
    """Terms untouched by the delta keep their exact encoded bytes."""
    import pyarrow.parquet as pq

    _, base_idx, delta_idx, _, promoted_idx, _ = promote_fixture
    delta_terms = set(
        pq.read_table(f"{delta_idx}/term_stats", columns=["term"])
        .column("term")
        .to_pylist()
    )

    def rows(idx):
        t = pq.read_table(f"{idx}/segments")
        return {
            (r["term"], r["shard"]): (
                r["deltas"], r["tfs"], r["doclens"], r["positions"],
                tuple(r["d_off"]), tuple(r["bmax_docid"]), r["n"],
            )
            for r in t.to_pylist()
            if r["term"] not in delta_terms
        }

    before, after = rows(base_idx), rows(promoted_idx)
    assert before and before == after


def test_promote_noop_on_repeat(promote_fixture, spark):
    _, _, delta_idx, _, promoted_idx, _ = promote_fixture
    again = promote_generation(spark, promoted_idx, delta_idx)
    assert again["docs_added"] == 0 and again["affected_buckets"] == 0


def test_promote_rejects_overlapping_docids(promote_fixture, spark, tmp_path):
    root, base_idx, *_ , pdf = promote_fixture
    overlap_pages = str(tmp_path / "pages_overlap")
    _write_pages(spark, pdf, 200, 300, overlap_pages)  # 200..250 overlap base
    overlap_idx = str(tmp_path / "idx_overlap")
    _build(spark, overlap_pages, overlap_idx)
    target = str(tmp_path / "idx_target")
    shutil.copytree(base_idx, target)
    with pytest.raises(ValueError, match="docids exist in both"):
        promote_generation(spark, target, overlap_idx)


def test_should_promote_policy(promote_fixture):
    _, base_idx, delta_idx, *_ = promote_fixture
    assert not should_promote(base_idx, [])
    # 150 delta docs vs ~250 base: over any reasonable ratio
    assert should_promote(base_idx, [delta_idx], max_delta_ratio=0.2)
    assert not should_promote(base_idx, [delta_idx], max_delta_ratio=5.0)
    assert should_promote(
        base_idx, [delta_idx] * 4, max_generations=3, max_delta_ratio=100.0
    )


@pytest.mark.parametrize(
    "point",
    [
        "staged",
        "committing",
        "invalidated",
        "mid_swap",
        "committed_files",
        "swapped",
    ],
)
def test_promote_killpoints_converge(promote_fixture, spark, tmp_path, point):
    """A crash at any journal point, then a plain re-run, converges to the
    same index as an uninterrupted promotion. 'committing' and
    'committed_files' pin the round-6 advice window: the base has begun
    mutating (manifests/renames/stats), the journal does not yet say
    'swapped' — the resume must CONTINUE the commit, never apply the
    epoch-mismatch restage to its own half-commit."""
    _, base_idx, delta_idx, scratch_idx, _, _ = promote_fixture
    target = str(tmp_path / f"idx_{point}")
    shutil.copytree(base_idx, target)
    with pytest.raises(RuntimeError, match=point):
        promote_generation(spark, target, delta_idx, _fail_at=point)
    summary = promote_generation(spark, target, delta_idx)
    assert summary["docs_added"] > 100
    p, s = ServingIndex(target), ServingIndex(scratch_idx)
    assert p.n_docs == s.n_docs
    assert p.search("data search", k=10) == s.search("data search", k=10)
    assert p.search_phrase("web search", k=10) == s.search_phrase(
        "web search", k=10
    )


def test_postpromote_compact_sheds_promoted_and_base_docs(
    promote_fixture, spark, tmp_path
):
    """delete_docs + compact over a promoted index: compact decodes the
    spliced segment rows, folds tombstones from BOTH generations, and
    leaves no multi-file marker."""
    from honeywell_search_engine_spark.index.maintenance import (
        compact,
        delete_docs,
    )

    root, base_idx, delta_idx, scratch_idx, promoted_idx, pdf = promote_fixture
    target = str(tmp_path / "idx_compact")
    shutil.copytree(promoted_idx, target)
    s = ServingIndex(scratch_idx)
    victims = [d for d, _ in s.search("data", k=6)][:4]
    assert victims
    delete_docs(target, victims)
    out = compact(spark, target)
    assert out["compacted"] == len(victims)
    with open(f"{target}/stats.json") as f:
        assert not json.load(f).get("occ_multifile_buckets")

    # oracle: scratch index with the same docs tombstoned + compacted
    oracle = str(tmp_path / "idx_compact_oracle")
    shutil.copytree(scratch_idx, oracle)
    delete_docs(oracle, victims)
    compact(spark, oracle)
    p, o = ServingIndex(target), ServingIndex(oracle)
    assert p.n_docs == o.n_docs
    assert _all_results(p) == _all_results(o)


def test_postpromote_merge_deltas_exact(promote_fixture, spark, tmp_path):
    """merge_deltas on a promoted index (its STAGE decodes the spliced
    segment rows) stays exact vs a scratch build over all three
    corpora."""
    from honeywell_search_engine_spark.index.maintenance import merge_deltas
    from honeywell_search_engine_spark.streaming.ingest import (
        stream_postings_delta,
    )

    root, base_idx, delta_idx, scratch_idx, promoted_idx, pdf = promote_fixture
    big = generate_pages_pdf(460)
    extra_pages = str(tmp_path / "pages_extra")
    _write_pages(spark, big, 400, 460, extra_pages)
    union_pages = str(tmp_path / "pages_union460")
    _write_pages(spark, big, 0, 460, union_pages)
    scratch460 = str(tmp_path / "idx_scratch460")
    _build(spark, union_pages, scratch460)

    target = str(tmp_path / "idx_merge")
    shutil.copytree(promoted_idx, target)
    delta_stream = str(tmp_path / "delta_stream")
    stream_postings_delta(
        spark, extra_pages, delta_stream, n_buckets=N_BUCKETS, n_shards=N_SHARDS
    )
    out = merge_deltas(spark, target, delta_stream)
    assert out["docs_added"] > 30
    p, s = ServingIndex(target), ServingIndex(scratch460)
    assert p.n_docs == s.n_docs
    assert _all_results(p) == _all_results(s)


def test_encode_pending_rederives_bucket_from_segments(
    promote_fixture, spark, tmp_path
):
    """Invalidate one promoted bucket's manifest on the finalized index
    (which keeps no occurrence rows): encode_pending_buckets re-derives
    the bucket from its own spliced segment rows, re-encodes it to one
    row per (term, shard) group, leaves no scratch behind and converges
    to the same query results."""
    from honeywell_search_engine_spark.index.promote import _read_promote_state
    from honeywell_search_engine_spark.index.segments import (
        encode_pending_buckets,
        input_fingerprint,
    )

    _, _, _, scratch_idx, promoted_idx, _ = promote_fixture
    target = str(tmp_path / "idx_norm")
    shutil.copytree(promoted_idx, target)
    assert not os.path.isdir(f"{target}/postings")
    (promoted,) = _read_promote_state(target)["promoted"].values()
    b = sorted(
        int(e.split("=", 1)[1])
        for e in os.listdir(f"{promoted['delta_index_dir']}/segments")
        if e.startswith("bucket=")
    )[0]
    os.remove(f"{target}/manifests/bucket_{b}.json")
    os.remove(f"{target}/manifests/finalize.json")
    fp = input_fingerprint(spark, f"{target}/segments")
    encode_pending_buckets(spark, target, fp, buckets_per_job=N_BUCKETS)
    assert not os.path.isdir(f"{target}/postings")
    # one (term, shard) row per group in the re-encoded bucket
    import pyarrow.parquet as pq

    t = pq.read_table(f"{target}/segments/bucket={b}", columns=["term", "shard"])
    keys = list(zip(t.column("term").to_pylist(), t.column("shard").to_pylist()))
    assert keys and len(keys) == len(set(keys))
    p, s = ServingIndex(target), ServingIndex(scratch_idx)
    assert _all_results(p) == _all_results(s)


def test_multi_generation_promote_chain(promote_fixture, spark, tmp_path):
    """Two generations promoted in sequence (the tiered-compaction cadence)
    — the second promotion lands on an already-promoted base whose lid
    space has appended ranges and whose lists are already spliced. Final
    index bit-identical to the scratch union, and
    GenerationSet over (base, gen1, gen2) agrees with it BEFORE either
    promotion."""
    from honeywell_search_engine_spark.index.promote import build_generation
    from honeywell_search_engine_spark.query.generations import GenerationSet

    root, base_idx, _, scratch_idx, _, pdf = promote_fixture
    g1_pages = str(tmp_path / "pages_g1")
    g2_pages = str(tmp_path / "pages_g2")
    _write_pages(spark, pdf, 250, 320, g1_pages)
    _write_pages(spark, pdf, 320, 400, g2_pages)
    g1_idx = str(tmp_path / "idx_g1")
    g2_idx = str(tmp_path / "idx_g2")
    layout = build_generation(spark, g1_pages, g1_idx, base_idx)
    assert layout["n_buckets"] == N_BUCKETS and layout["n_shards"] == N_SHARDS
    build_generation(spark, g2_pages, g2_idx, base_idx)

    s = ServingIndex(scratch_idx)
    gs = GenerationSet([base_idx, g1_idx, g2_idx])
    assert gs.n_docs == s.n_docs
    assert gs.search("data search", k=10) == s.search("data search", k=10)

    target = str(tmp_path / "idx_chain")
    shutil.copytree(base_idx, target)
    r1 = promote_generation(spark, target, g1_idx)
    r2 = promote_generation(spark, target, g2_idx)
    assert r1["docs_added"] > 0 and r2["docs_added"] > 0
    p = ServingIndex(target)
    assert p.n_docs == s.n_docs
    assert _all_results(p) == _all_results(s)


def test_serving_reload_after_promote(promote_fixture, spark, tmp_path):
    """A live serving node picks up a promotion via reload() with no
    process restart: ServingIndex, a 2-node ShardRouter, and a
    CachedSearcher all serve the promoted corpus exactly afterwards (and
    the cache's pre-promotion memos are dropped)."""
    from honeywell_search_engine_spark.query.cache import CachedSearcher
    from honeywell_search_engine_spark.query.local import ShardRouter
    from honeywell_search_engine_spark.index.segments import SegmentIndex

    _, base_idx, delta_idx, scratch_idx, _, _ = promote_fixture
    target = str(tmp_path / "idx_reload")
    shutil.copytree(base_idx, target)
    live = ServingIndex(target)
    router = ShardRouter(target, n_nodes=2)
    cache = CachedSearcher(SegmentIndex(spark, target))
    before = live.search("data search", k=10)
    assert cache.search("data search", k=10) == before

    promote_generation(spark, target, delta_idx)
    # cached term rows + old stats still serve the old view for this query
    assert live.search("data search", k=10) == before
    assert cache.search("data search", k=10) == before

    s = ServingIndex(scratch_idx)
    live.reload()
    router.reload()
    cache.reload(index=SegmentIndex(spark, target))
    expected = s.search("data search", k=10)
    assert expected != before  # the promotion actually changed the answer
    assert live.search("data search", k=10) == expected
    assert router.search("data search", k=10) == expected
    assert cache.search("data search", k=10) == expected
    assert live.n_docs == s.n_docs and live.avgdl == s.avgdl
    assert _all_results(live) == _all_results(s)


def test_promote_refuses_concurrent_maintenance(promote_fixture, spark, tmp_path):
    """An unfinished merge or a staged compaction owns the same dirs a
    promotion would swap — promote must refuse until they finish."""
    from honeywell_search_engine_spark.index.segments import _write_manifest

    _, base_idx, delta_idx, *_ = promote_fixture
    target = str(tmp_path / "idx_guard")
    shutil.copytree(base_idx, target)
    _write_manifest(
        target, "merge_state.json",
        {"merged_batches": {}, "inflight": {"status": "staging",
                                            "delta_dir": "/somewhere"}},
    )
    with pytest.raises(ValueError, match="merge .* in flight"):
        promote_generation(spark, target, delta_idx)
    _write_manifest(target, "merge_state.json",
                    {"merged_batches": {}, "inflight": None})
    _write_manifest(target, "compact_state.json", {"status": "staged"})
    with pytest.raises(ValueError, match="staged compaction"):
        promote_generation(spark, target, delta_idx)


def test_reload_preserves_attached_docs(promote_fixture, spark, tmp_path):
    """reload() re-attaches the forward text store: full response rows
    keep working after a promote + reload, and match a fresh node over
    the scratch union index with the union docs attached."""
    from honeywell_search_engine_spark.index.corpus import docs_from_pages
    from honeywell_search_engine_spark.sources.pages import read_pages

    root, base_idx, delta_idx, scratch_idx, _, _ = promote_fixture
    union_docs = str(tmp_path / "docs_union")
    (
        docs_from_pages(read_pages(spark, str(root / "pages_union")))
        .select("docid", "text")
        .write.parquet(union_docs)
    )
    target = str(tmp_path / "idx_reload_docs")
    shutil.copytree(base_idx, target)
    live = ServingIndex(target)
    live.attach_docs(union_docs)
    assert live.search_response("data search", k=5)

    promote_generation(spark, target, delta_idx)
    live.reload()
    fresh = ServingIndex(scratch_idx)
    fresh.attach_docs(union_docs)
    assert live.search_response("data search", k=5) == fresh.search_response(
        "data search", k=5
    )


def test_build_generation_from_delta_equals_pages_build(
    promote_fixture, spark, tmp_path
):
    """A generation built straight from the streamed delta batches equals
    the generation built from the pages themselves ROW-FOR-ROW (the pos
    ordinals reconstruct the exact token stream), and promoting it yields
    the same scratch-exact index."""
    import pyarrow.parquet as pq

    from honeywell_search_engine_spark.index.promote import (
        build_generation_from_delta,
    )
    from honeywell_search_engine_spark.streaming.ingest import (
        stream_postings_delta,
    )

    root, base_idx, delta_idx, scratch_idx, _, _ = promote_fixture
    delta_stream = str(tmp_path / "delta_stream")
    stream_postings_delta(
        spark, str(root / "pages_delta"), delta_stream,
        n_buckets=N_BUCKETS, n_shards=N_SHARDS,
    )
    gen_idx = str(tmp_path / "idx_gen_from_delta")
    out = build_generation_from_delta(spark, delta_stream, gen_idx, base_idx)
    assert out["docs"] > 100

    def seg_rows(idx):
        t = pq.read_table(f"{idx}/segments")
        return {
            (r["term"], r["shard"]): (
                r["n"], r["ctf"], r["deltas"], r["tfs"], r["doclens"],
                r["positions"], tuple(r["d_off"]), tuple(r["bmax_docid"]),
            )
            for r in t.to_pylist()
        }

    assert seg_rows(gen_idx) == seg_rows(delta_idx)  # == pages-built gen

    target = str(tmp_path / "idx_promote_from_stream")
    shutil.copytree(base_idx, target)
    promote_generation(spark, target, gen_idx)
    p, s = ServingIndex(target), ServingIndex(scratch_idx)
    assert p.n_docs == s.n_docs
    assert _all_results(p) == _all_results(s)


def test_build_generation_from_delta_refuses_stemmed_base(
    promote_fixture, spark, tmp_path
):
    from honeywell_search_engine_spark.index.promote import (
        build_generation_from_delta,
    )

    _, base_idx, *_ = promote_fixture
    stem_base = str(tmp_path / "idx_stem_meta")
    shutil.copytree(base_idx, stem_base)
    with open(f"{stem_base}/stats.json") as f:
        meta = json.load(f)
    meta["stemmed"] = True
    with open(f"{stem_base}/stats.json", "w") as f:
        json.dump(meta, f)
    with pytest.raises(ValueError, match="unstemmed"):
        build_generation_from_delta(spark, "/nowhere", "/nowhere2", stem_base)


def test_promote_restages_when_base_changed_after_crash(
    promote_fixture, spark, tmp_path
):
    """A promotion that crashed after STAGE must NOT commit its stale
    staged artifacts over a merge that completed in between — the base
    epoch check forces a restage against the merged base, and the final
    index equals a scratch build over all three corpora."""
    from honeywell_search_engine_spark.index.maintenance import merge_deltas
    from honeywell_search_engine_spark.streaming.ingest import (
        stream_postings_delta,
    )

    root, base_idx, delta_idx, scratch_idx, _, _ = promote_fixture
    target = str(tmp_path / "idx_epoch")
    shutil.copytree(base_idx, target)
    with pytest.raises(RuntimeError, match="staged"):
        promote_generation(spark, target, delta_idx, _fail_at="staged")

    big = generate_pages_pdf(430)
    extra_pages = str(tmp_path / "pages_extra430")
    _write_pages(spark, big, 400, 430, extra_pages)
    delta_stream = str(tmp_path / "delta_stream430")
    stream_postings_delta(
        spark, extra_pages, delta_stream, n_buckets=N_BUCKETS, n_shards=N_SHARDS
    )
    merged = merge_deltas(spark, target, delta_stream)
    assert merged["docs_added"] > 0

    out = promote_generation(spark, target, delta_idx)  # resume -> restage
    assert out["docs_added"] > 100

    union_pages = str(tmp_path / "pages_union430")
    _write_pages(spark, big, 0, 430, union_pages)
    scratch430 = str(tmp_path / "idx_scratch430")
    _build(spark, union_pages, scratch430)
    p, s = ServingIndex(target), ServingIndex(scratch430)
    assert p.n_docs == s.n_docs
    assert _all_results(p) == _all_results(s)


def test_failed_overlap_validation_does_not_wedge(promote_fixture, spark, tmp_path):
    """A doomed promotion attempt (overlapping docids) must not leave an
    inflight record that blocks promoting a valid generation afterwards."""
    root, base_idx, delta_idx, scratch_idx, _, pdf = promote_fixture
    overlap_pages = str(tmp_path / "pages_ovl")
    _write_pages(spark, pdf, 200, 300, overlap_pages)
    overlap_idx = str(tmp_path / "idx_ovl")
    _build(spark, overlap_pages, overlap_idx)
    target = str(tmp_path / "idx_unwedged")
    shutil.copytree(base_idx, target)
    with pytest.raises(ValueError, match="docids exist in both"):
        promote_generation(spark, target, overlap_idx)
    out = promote_generation(spark, target, delta_idx)  # must not be wedged
    assert out["docs_added"] > 100
    p, s = ServingIndex(target), ServingIndex(scratch_idx)
    assert p.search("data search", k=10) == s.search("data search", k=10)


def test_one_pass_multi_generation_promote(promote_fixture, spark, tmp_path):
    """r6 verdict #6: promote_generation([g1, g2]) folds K generations in
    ONE base pass and must be bit-identical to the sequential chain —
    same query results on every mode, same content checksums, same
    stats, and per-generation idempotency afterwards."""
    from honeywell_search_engine_spark.index.promote import build_generation
    from honeywell_search_engine_spark.index.segments import bucket_checksums

    root, base_idx, _, scratch_idx, _, pdf = promote_fixture
    g1_pages = str(tmp_path / "pages_g1")
    g2_pages = str(tmp_path / "pages_g2")
    _write_pages(spark, pdf, 250, 320, g1_pages)
    _write_pages(spark, pdf, 320, 400, g2_pages)
    g1_idx = str(tmp_path / "idx_g1")
    g2_idx = str(tmp_path / "idx_g2")
    build_generation(spark, g1_pages, g1_idx, base_idx)
    build_generation(spark, g2_pages, g2_idx, base_idx)

    seq = str(tmp_path / "idx_seq")
    one = str(tmp_path / "idx_onepass")
    shutil.copytree(base_idx, seq)
    shutil.copytree(base_idx, one)
    r1 = promote_generation(spark, seq, g1_idx)
    r2 = promote_generation(spark, seq, g2_idx)
    ro = promote_generation(spark, one, [g1_idx, g2_idx])
    assert ro["docs_added"] == r1["docs_added"] + r2["docs_added"]
    assert ro["n_docs"] == r2["n_docs"]

    with open(f"{seq}/stats.json") as f:
        st_seq = json.load(f)
    with open(f"{one}/stats.json") as f:
        st_one = json.load(f)
    for k in ("n_docs", "avgdl", "sum_doclen"):
        assert st_seq[k] == st_one[k], k

    buckets = list(range(N_BUCKETS))
    cs = bucket_checksums(spark, f"{seq}/segments", buckets)
    co = bucket_checksums(spark, f"{one}/segments", buckets)
    assert cs == co  # content-hash identical segment bytes per bucket

    p_seq, p_one, s = ServingIndex(seq), ServingIndex(one), ServingIndex(scratch_idx)
    assert p_one.n_docs == p_seq.n_docs == s.n_docs
    assert _all_results(p_one) == _all_results(p_seq) == _all_results(s)

    # per-generation idempotency: a later single promote of g1 no-ops
    again = promote_generation(spark, one, g1_idx)
    assert again["docs_added"] == 0
    # and mixed lists skip the promoted members
    again2 = promote_generation(spark, one, [g1_idx, g2_idx])
    assert again2["docs_added"] == 0


def test_one_pass_multi_generation_rejects_cross_gen_reingest(
    promote_fixture, spark, tmp_path
):
    """Two generations carrying the SAME docid cannot be spliced (the
    append-only contract is per-docid across the whole list) — refused
    loudly before journaling."""
    from honeywell_search_engine_spark.index.promote import build_generation

    root, base_idx, _, _, _, pdf = promote_fixture
    g1_pages = str(tmp_path / "pages_g1")
    gdup_pages = str(tmp_path / "pages_gdup")
    _write_pages(spark, pdf, 250, 320, g1_pages)
    _write_pages(spark, pdf, 300, 360, gdup_pages)  # overlaps g1 docids
    g1_idx = str(tmp_path / "idx_g1")
    gdup_idx = str(tmp_path / "idx_gdup")
    build_generation(spark, g1_pages, g1_idx, base_idx)
    build_generation(spark, gdup_pages, gdup_idx, base_idx)
    target = str(tmp_path / "idx_dup")
    shutil.copytree(base_idx, target)
    with pytest.raises(ValueError, match="more than one generation"):
        promote_generation(spark, target, [g1_idx, gdup_idx])
    # not wedged: a valid promotion still goes through
    out = promote_generation(spark, target, g1_idx)
    assert out["docs_added"] > 0


def test_offsets_broadcast_join_above_threshold(
    promote_fixture, spark, tmp_path, monkeypatch
):
    """r6 verdict #5: above OFFSETS_MAP_MAX shards the lid-offset rewrite
    rides a broadcast join, not a literal Catalyst map — same rows, no
    map expression in the plan."""
    from honeywell_search_engine_spark.index import promote as P

    df = spark.createDataFrame(
        [(s, l, 7) for s in range(N_SHARDS) for l in range(3)],
        "shard int, lid long, pos int",
    )
    offs = {s: 100 * (s + 1) for s in range(N_SHARDS)}
    exp = sorted(
        (s, l + offs[s], 7) for s in range(N_SHARDS) for l in range(3)
    )

    small = P._apply_lid_offsets(spark, df, offs, "lid")
    assert "map(" in small._jdf.queryExecution().optimizedPlan().toString()
    assert sorted(tuple(r) for r in small.collect()) == exp
    assert small.columns == df.columns

    monkeypatch.setattr(P, "OFFSETS_MAP_MAX", 0)
    big = P._apply_lid_offsets(spark, df, offs, "lid")
    plan = big._jdf.queryExecution().executedPlan().toString()
    assert "map(" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert sorted(tuple(r) for r in big.collect()) == exp
    assert big.columns == df.columns

    # an end-to-end promotion under the forced-join regime stays exact
    _, base_idx, delta_idx, scratch_idx, _, _ = promote_fixture
    target = str(tmp_path / "idx_bcast")
    shutil.copytree(base_idx, target)
    promote_generation(spark, target, delta_idx)
    assert _all_results(ServingIndex(target)) == _all_results(
        ServingIndex(scratch_idx)
    )


_OCCURRENCE_DIRS = ("postings", "postings_merged", "promote_staged_occ")


def _occurrence_dirs(idx: str) -> list[str]:
    return sorted(d for d in _OCCURRENCE_DIRS if os.path.isdir(f"{idx}/{d}"))


def _stream_extra_delta(spark, tmp_path) -> str:
    """Streamed occurrence deltas of docs 400..430 (disjoint from the
    fixture's corpus), for merge_deltas."""
    from honeywell_search_engine_spark.streaming.ingest import stream_postings_delta

    pages = str(tmp_path / "pages_extra")
    _write_pages(spark, generate_pages_pdf(430), 400, 430, pages)
    delta = str(tmp_path / "delta_stream")
    stream_postings_delta(spark, pages, delta, n_buckets=N_BUCKETS, n_shards=N_SHARDS)
    return delta


def test_segments_are_the_only_durable_copy(promote_fixture, spark, tmp_path):
    """build_segments, build_generation, promote_generation, merge_deltas
    and compact leave no occurrence directory behind: segments are the one
    durable copy of the postings."""
    from honeywell_search_engine_spark.index.maintenance import (
        compact,
        delete_docs,
        merge_deltas,
    )
    from honeywell_search_engine_spark.index.promote import build_generation

    root, base_idx, delta_idx, _, promoted_idx, pdf = promote_fixture
    for idx in (base_idx, delta_idx, promoted_idx):  # build, build, promote
        assert _occurrence_dirs(idx) == [], idx
    gen_pages = str(tmp_path / "pages_gen")
    _write_pages(spark, generate_pages_pdf(430), 400, 430, gen_pages)
    gen = str(tmp_path / "idx_gen")
    build_generation(spark, gen_pages, gen, base_idx)
    assert _occurrence_dirs(gen) == []

    target = str(tmp_path / "idx_life")
    shutil.copytree(promoted_idx, target)
    assert merge_deltas(spark, target, _stream_extra_delta(spark, tmp_path))["docs_added"] > 10
    assert _occurrence_dirs(target) == []
    delete_docs(target, [d for d, _ in ServingIndex(target).search("data", k=4)])
    assert compact(spark, target)["compacted"] == 4
    assert _occurrence_dirs(target) == []


@pytest.mark.parametrize("op", ["merge_deltas", "compact"])
def test_parent_format_index_sheds_occurrence_table(promote_fixture, spark, tmp_path, op):
    """An index written while the occurrence table was a second durable
    copy carries postings/ and, once promoted into, the
    `occ_multifile_buckets` marker in stats.json. It opens and answers
    like the same index without them, and the next merge_deltas or
    compact removes both and gives the same results as on that index."""
    from honeywell_search_engine_spark.index.maintenance import (
        compact,
        delete_docs,
        merge_deltas,
    )
    from honeywell_search_engine_spark.index.segments import (
        segment_occurrences,
        write_occurrences,
    )

    _, _, _, _, promoted_idx, _ = promote_fixture
    clean, legacy = str(tmp_path / "idx_clean"), str(tmp_path / "idx_legacy")
    for d in (clean, legacy):
        shutil.copytree(promoted_idx, d)
    write_occurrences(
        segment_occurrences(spark.read.parquet(f"{legacy}/segments")), f"{legacy}/postings"
    )
    with open(f"{legacy}/stats.json") as f:
        meta = json.load(f)
    meta["occ_multifile_buckets"] = [0, 1]
    with open(f"{legacy}/stats.json", "w") as f:
        json.dump(meta, f)
    assert _all_results(ServingIndex(legacy)) == _all_results(ServingIndex(clean))

    if op == "merge_deltas":
        delta = _stream_extra_delta(spark, tmp_path)
        for d in (clean, legacy):
            assert merge_deltas(spark, d, delta)["docs_added"] > 10
    else:
        victims = [d for d, _ in ServingIndex(clean).search("data", k=4)]
        for d in (clean, legacy):
            delete_docs(d, victims)
            assert compact(spark, d)["compacted"] == len(victims)
    assert _occurrence_dirs(legacy) == []
    with open(f"{legacy}/stats.json") as f:
        assert "occ_multifile_buckets" not in json.load(f)
    p, c = ServingIndex(legacy), ServingIndex(clean)
    assert p.n_docs == c.n_docs
    assert _all_results(p) == _all_results(c)


def test_builds_restore_session_conf(spark, tmp_path):
    """build_segments and build_generation leave the caller's session conf
    as they found it: the phase-2 encode sets partition-overwrite mode and
    three scan/batch sizes only for its own writes (a leaked dynamic
    overwrite mode makes every later overwrite in the session replace
    only the partitions it writes)."""
    from honeywell_search_engine_spark.index.promote import build_generation

    keys = (
        "spark.sql.sources.partitionOverwriteMode",
        "spark.sql.files.maxPartitionBytes",
        "spark.sql.files.openCostInBytes",
        "spark.sql.execution.arrow.maxRecordsPerBatch",
    )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    before = {k: spark.conf.get(k) for k in keys}
    pdf = generate_pages_pdf(120)
    _write_pages(spark, pdf, 0, 80, str(tmp_path / "pages_base"))
    _write_pages(spark, pdf, 80, 120, str(tmp_path / "pages_gen"))
    _build(spark, str(tmp_path / "pages_base"), str(tmp_path / "idx"))
    assert {k: spark.conf.get(k) for k in keys} == before
    build_generation(spark, str(tmp_path / "pages_gen"), str(tmp_path / "gen"), str(tmp_path / "idx"))
    assert {k: spark.conf.get(k) for k in keys} == before
