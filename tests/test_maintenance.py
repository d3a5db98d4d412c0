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


# --------------------------------------------------------------------------
# the segment rewrite: only lists that hold a dead key re-encode
# --------------------------------------------------------------------------


def _dead(index_path, every):
    """Every `every`-th docid of the index's docmap and their sorted
    posting keys."""
    import numpy as np

    from honeywell_search_engine_spark.index.codec import keys_of

    dm = pq.read_table(f"{index_path}/docmap", columns=["docid", "shard", "local_id"])
    docids = np.sort(dm.column("docid").to_numpy())[::every]
    pick = np.isin(dm.column("docid").to_numpy(), docids)
    keys = keys_of(dm.column("shard").to_numpy()[pick], dm.column("local_id").to_numpy()[pick])
    return docids, np.unique(keys)


def _check_compacted(before, after, dead):
    """`after`, the segment rows a compaction made of `before`, against
    the dead keys: a list without a dead key is its input row in every
    column, a touched list is byte-identical to ``encode_postings`` of its
    surviving postings (in its own codec), and a list with no survivor is
    gone. Returns the (untouched, touched, fully dead) list counts."""
    import numpy as np

    from honeywell_search_engine_spark.index import codec
    from honeywell_search_engine_spark.index.segments import enc_from_arrow

    out = {(r["term"], r["shard"]): (r, e)
           for r, e in zip(after.to_pylist(), enc_from_arrow(after))}
    assert len(out) == after.num_rows
    counts = [0, 0, 0]
    for r, enc in zip(before.to_pylist(), enc_from_arrow(before)):
        pl = codec.decode_postings(enc, with_positions=True, flat_positions=True)
        keep = ~np.isin(codec.keys_of(r["shard"], pl.docids), dead)
        got = out.pop((r["term"], r["shard"]), None)
        if keep.all():
            counts[0] += 1
            assert got is not None and got[0] == r, r["term"]
        elif keep.any():
            counts[1] += 1
            exp = codec.encode_postings(
                pl.docids[keep], pl.tfs[keep], pl.doclens[keep],
                positions=pl.positions[np.repeat(keep, pl.tfs.astype(np.int64))], fmt=enc.fmt,
            )
            row, enc_out = got
            assert row["ctf"] == int(pl.tfs[keep].sum()) and row["bucket"] == r["bucket"]
            assert enc_out.fmt == enc.fmt and enc_out.n == exp.n
            for f in ("deltas", "tfs", "doclens", "positions"):
                assert getattr(enc_out, f) == getattr(exp, f), (r["term"], f)
            for f in ("bmax_docid", "bmax_u", "d_off", "t_off", "l_off", "p_off"):
                assert np.array_equal(getattr(enc_out, f), getattr(exp, f)), (r["term"], f)
        else:
            counts[2] += 1
            assert got is None, r["term"]
    assert not out, "compact made lists it was not given"
    return tuple(counts)


def _run_kernel(tbl, dead, n_buckets, rows_per_batch=700):
    """The compact rewrite kernel run in-process over `tbl`'s rows."""
    import types

    import pyarrow as pa

    from honeywell_search_engine_spark.index.maintenance import _rewrite_kernel

    kernel = _rewrite_kernel(types.SimpleNamespace(value=dead), n_buckets)
    batches = list(kernel(iter(tbl.combine_chunks().to_batches(max_chunksize=rows_per_batch))))
    return pa.Table.from_batches(batches)


def test_compact_rewrites_only_lists_with_a_dead_key(spark, small_index):
    """compact on an index with tombstones (every 5th doc): untouched
    lists keep their input rows, touched lists are byte-identical to
    encode_postings of their survivors, fully dead lists are gone."""
    path = small_index.path
    docids, dead = _dead(path, 5)
    before = pq.read_table(f"{path}/segments")
    delete_docs(path, docids.tolist(), reason="every 5th")
    assert compact(spark, path)["compacted"] == docids.size
    untouched, touched, gone = _check_compacted(before, pq.read_table(f"{path}/segments"), dead)
    assert untouched and touched and gone


def test_compact_kernel_encodes_only_touched_rows_in_streams(seg_index, monkeypatch):
    """No list is encoded on its own (a spy on codec.encode_postings sees
    no call): the touched rows, and only they, stream through the
    build's encoder, at most one stream per batch and codec."""
    import numpy as np

    from honeywell_search_engine_spark.index import codec
    from honeywell_search_engine_spark.index import maintenance as M

    _, dead = _dead(seg_index.path, 5)
    before = pq.read_table(f"{seg_index.path}/segments")
    streams, real = [], M.make_segment_encoder

    def spy_encoder(n_buckets, fmt):
        encode, seen = real(n_buckets, fmt), set()
        streams.append((fmt, seen))

        def tap(batches):
            for b in batches:
                seen.update(zip(b.column("term").to_pylist(), b.column("shard").to_pylist()))
                yield b

        return lambda batches: encode(tap(batches))

    def no_per_list_encode(*a, **kw):
        raise AssertionError("compact encoded a list on its own")

    with monkeypatch.context() as m:
        m.setattr(M, "make_segment_encoder", spy_encoder)
        m.setattr(codec, "encode_postings", no_per_list_encode)
        after = _run_kernel(before, dead, 16)
    untouched, touched, gone = _check_compacted(before, after, dead)
    assert untouched and touched and gone
    assert 0 < len(streams) <= -(-before.num_rows // 700)
    assert {f for f, _ in streams} == {codec.FMT_PFOR}
    # each stream sees the surviving occurrences of touched lists only
    seen = [k for _, s in streams for k in s]
    assert len(seen) == len(set(seen)) == touched
    hit = set()
    for r, pl in zip(before.to_pylist(), codec.decode_many(M.enc_from_arrow(before))):
        if np.isin(codec.keys_of(r["shard"], pl.docids), dead).any():
            hit.add((r["term"], r["shard"]))
    assert set(seen) <= hit and len(hit) == touched + gone


def test_compact_kernel_keeps_each_lists_codec(seg_index):
    """A varbyte list in a PFor index (a promoted delta-only list keeps
    its delta's codec) stays varbyte through compact, touched or not, and
    batches holding both codecs rewrite each list in its own."""
    import numpy as np
    import pyarrow as pa

    from honeywell_search_engine_spark.index import codec
    from honeywell_search_engine_spark.index.segments import arrow_from_encs, enc_from_arrow

    _, dead = _dead(seg_index.path, 5)
    tbl = pq.read_table(f"{seg_index.path}/segments")
    vb_rows = tbl.slice(0, 300)
    vb = [codec.encode_postings(pl.docids, pl.tfs, pl.doclens, positions=pl.positions, fmt=codec.FMT_VB)
          for pl in codec.decode_many(enc_from_arrow(vb_rows), True)]
    vb_rows = pa.Table.from_batches([arrow_from_encs(
        vb, *(vb_rows.column(c).to_pylist() for c in ("term", "shard", "ctf", "bucket")))])
    mixed = pa.concat_tables([vb_rows, tbl.slice(300).cast(vb_rows.schema)])
    mixed = mixed.take(np.random.default_rng(7).permutation(mixed.num_rows))
    after = _run_kernel(mixed, dead, 16)
    untouched, touched, gone = _check_compacted(mixed, after, dead)
    assert untouched and touched and gone
    rows_in = {(r["term"], r["shard"]): r for r in vb_rows.to_pylist()}
    vb_out = [r for r in after.to_pylist() if r["fmt"] == codec.FMT_TAGS[codec.FMT_VB]]
    assert all((r["term"], r["shard"]) in rows_in for r in vb_out)
    rewritten = [r for r in vb_out if r != rows_in[(r["term"], r["shard"])]]
    assert rewritten and len(rewritten) < len(vb_out)  # touched and untouched varbyte lists


def test_compact_kernel_refuses_a_touched_row_without_positions(seg_index):
    """A row without positions (an index from before they joined the
    schema) passes through untouched, but a touched one gets
    decode_occurrences' ValueError, as merge_deltas refuses it."""
    import numpy as np

    _, dead = _dead(seg_index.path, 5)
    bare = pq.read_table(f"{seg_index.path}/segments").drop_columns(["positions", "p_off"])
    kept = _run_kernel(bare, np.zeros(0, dtype=np.int64), 16)
    assert kept.num_rows == bare.num_rows
    assert kept.column("positions").null_count == kept.column("p_off").null_count == bare.num_rows
    assert kept.drop_columns(["positions", "p_off"]).select(bare.schema.names).to_pylist() == bare.to_pylist()
    with pytest.raises(ValueError, match="has no positions"):
        _run_kernel(bare, dead, 16)
