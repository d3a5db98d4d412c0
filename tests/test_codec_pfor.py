"""PForDelta codec (index/codec.py pfor_* + the codec_fmt="pfor" build
path): stream roundtrip, block random access, mega-batch encoder identity,
and full query-surface parity of a pfor-built index vs the varbyte one and
the pure-Python oracle.

The reference keeps postings in Postgres GIN (an opaque on-disk format);
both codecs here are explicit rebuild-side choices (north_star:
"varbyte/PForDelta block compression"). PFor is the public patched
frame-of-reference family (Zukowski et al. ICDE'06; Yan/Ding/Suel WWW'09).
"""

import numpy as np
import pandas as pd
import pytest

from honeywell_search_engine_spark.index import codec


def _rng():
    return np.random.default_rng(23)


# ---------------------------------------------------------------------------
# stream level
# ---------------------------------------------------------------------------


def _cases():
    rng = _rng()
    return [
        np.zeros(1, dtype=np.uint64),
        np.zeros(500, dtype=np.uint64),
        np.array([2**63, 0, 2**64 - 1, 1], dtype=np.uint64),
        np.array([2**64 - 1] * 130, dtype=np.uint64),
        rng.integers(0, 100, 1000).astype(np.uint64),
        (rng.zipf(1.3, 5000) % (2**40)).astype(np.uint64),
        np.arange(127, dtype=np.uint64),
        np.arange(128, dtype=np.uint64),
        np.arange(129, dtype=np.uint64),
        np.arange(1, dtype=np.uint64) + 7,
        # the exception shape PFor exists for: mostly small, a few huge
        np.concatenate(
            [np.ones(120, np.uint64), np.full(8, 2**50, np.uint64)]
        ),
        rng.permutation(
            np.concatenate(
                [rng.integers(0, 16, 1000), rng.integers(2**30, 2**35, 30)]
            )
        ).astype(np.uint64),
        # one 128-value block at each width 57..63: 57 is the widest whose
        # values never straddle two 64-bit words in the unpack, 58..63
        # take its second-word path (w + shift > 64)
        np.concatenate(
            [np.full(codec.BLOCK, 2**k - 1, np.uint64) for k in range(57, 64)]
        ),
    ]


@pytest.mark.parametrize("i", range(len(_cases())))
def test_pfor_roundtrip(i):
    v = _cases()[i]
    buf, offs = codec.pfor_encode(v)
    assert offs.size == (v.size + codec.BLOCK - 1) // codec.BLOCK
    out = codec.pfor_decode(buf, v.size)
    assert np.array_equal(out, v)


def test_pfor_empty_stream():
    buf, offs = codec.pfor_encode(np.zeros(0, dtype=np.uint64))
    assert buf == b"" and offs.size == 0
    assert codec.pfor_decode(b"", 0).size == 0


def test_pfor_block_random_access():
    """Decoding from any block offset must reproduce the tail — the
    contract d_off/t_off/l_off rely on."""
    rng = _rng()
    v = (rng.zipf(1.5, 2000) % 10000).astype(np.uint64)
    buf, offs = codec.pfor_encode(v)
    for b in range(offs.size):
        tail = codec.pfor_decode(buf[offs[b] :], v.size - b * codec.BLOCK)
        assert np.array_equal(tail, v[b * codec.BLOCK :]), f"block {b}"


def test_pfor_deterministic():
    v = _rng().integers(0, 2**20, 3000).astype(np.uint64)
    a, _ = codec.pfor_encode(v)
    b, _ = codec.pfor_encode(v.copy())
    assert a == b


@pytest.mark.parametrize("i", range(len(_cases())))
def test_pfor_decode_at_equals_sequential(i):
    """The vectorized known-offsets decoder must be value-identical to the
    sequential block walk on every stream shape (zero-width blocks, all-
    exception blocks, 64-bit extremes, partial last block)."""
    v = _cases()[i]
    buf, offs = codec.pfor_encode(v)
    out = codec.pfor_decode_at(buf, offs, v.size)
    assert out.dtype == np.uint64
    assert np.array_equal(out, v)


def test_pfor_decode_at_midstream_slice():
    """decode_blocks hands pfor_decode_at a SLICED buffer with offsets
    rebased to 0 — any contiguous block run must decode exactly."""
    rng = _rng()
    v = rng.permutation(
        np.concatenate(
            [rng.integers(0, 16, 2000), rng.integers(2**30, 2**35, 60)]
        )
    ).astype(np.uint64)
    buf, offs = codec.pfor_encode(v)
    nb = offs.size
    for b0, b1 in [(0, 0), (0, nb - 1), (3, 7), (nb - 2, nb - 1), (5, 5)]:
        end = offs[b1 + 1] if b1 + 1 < nb else len(buf)
        cnt = min(v.size, (b1 + 1) * codec.BLOCK) - b0 * codec.BLOCK
        ro = np.asarray(offs[b0 : b1 + 1], dtype=np.int64) - int(offs[b0])
        out = codec.pfor_decode_at(buf[offs[b0] : end], ro, cnt)
        assert np.array_equal(
            out, v[b0 * codec.BLOCK : b0 * codec.BLOCK + cnt]
        ), f"run {b0}-{b1}"


def test_pfor_decode_at_empty():
    assert codec.pfor_decode_at(b"", np.zeros(0, np.int64), 0).size == 0


def test_pfor_decode_at_per_block_counts():
    """Blocks of many streams in one call: their buffers concatenated,
    offsets shifted by each stream's byte base and one value count per
    block (each stream's last block partial) decode every stream back
    to back, exceptions included."""
    streams = _cases()
    encoded = [codec.pfor_encode(v) for v in streams]
    base = np.cumsum([0] + [len(b) for b, _ in encoded])[:-1]
    offs = np.concatenate([o + b0 for (_, o), b0 in zip(encoded, base)])
    counts = np.concatenate([
        np.diff(np.append(np.arange(0, v.size, codec.BLOCK), v.size)) for v in streams
    ])
    out = codec.pfor_decode_at(b"".join(b for b, _ in encoded), offs, counts)
    assert np.array_equal(out, np.concatenate(streams))


def test_pfor_beats_varbyte_on_posting_deltas():
    """On dense-lid posting deltas (the stream the codec exists for) PFor
    must not be larger than varbyte: deltas of a 30%-df head term over
    dense lids are mostly 1-8 -> ~3-4 bits packed vs 8 varbyte."""
    rng = _rng()
    lids = np.sort(rng.choice(100_000, 30_000, replace=False)).astype(np.uint64)
    deltas = np.diff(lids, prepend=np.uint64(0))
    pf, _ = codec.pfor_encode(deltas)
    vb = codec.varbyte_encode(deltas)
    assert len(pf) < len(vb)


# ---------------------------------------------------------------------------
# posting-list level
# ---------------------------------------------------------------------------


def _fake_postings(n=1000, seed=31):
    rng = np.random.default_rng(seed)
    docids = np.sort(rng.choice(100_000, n, replace=False)).astype(np.uint64)
    tfs = (rng.zipf(1.5, n) % 50 + 1).astype(np.uint64)
    doclens = rng.integers(10, 500, n).astype(np.uint64)
    pos = np.concatenate(
        [np.sort(rng.choice(1000, int(t), replace=False)) for t in tfs]
    ).astype(np.uint64)
    return docids, tfs, doclens, pos


def test_encode_postings_pfor_decodes_identically():
    docids, tfs, doclens, pos = _fake_postings()
    enc_vb = codec.encode_postings(docids, tfs, doclens, positions=pos)
    enc_pf = codec.encode_postings(
        docids, tfs, doclens, positions=pos, fmt=codec.FMT_PFOR
    )
    assert enc_pf.fmt == codec.FMT_PFOR
    # block metadata (pruning bounds) is codec-independent
    assert np.array_equal(enc_pf.bmax_docid, enc_vb.bmax_docid)
    assert np.array_equal(enc_pf.bmax_u, enc_vb.bmax_u)
    # positions stay varbyte -> byte-identical stream
    assert enc_pf.positions == enc_vb.positions
    for enc in (enc_vb, enc_pf):
        pl = codec.decode_postings(enc, with_positions=True, flat_positions=True)
        assert np.array_equal(pl.docids, docids)
        assert np.array_equal(pl.tfs, tfs)
        assert np.array_equal(pl.doclens, doclens)


def test_decode_blocks_pfor_equals_vb():
    docids, tfs, doclens, pos = _fake_postings()
    enc_vb = codec.encode_postings(docids, tfs, doclens, positions=pos)
    enc_pf = codec.encode_postings(
        docids, tfs, doclens, positions=pos, fmt=codec.FMT_PFOR
    )
    rng = _rng()
    nb = enc_vb.bmax_docid.size
    for _ in range(25):
        blocks = np.sort(rng.choice(nb, rng.integers(1, nb + 1), replace=False))
        a = codec.decode_blocks(enc_vb, blocks, with_positions=True, flat_positions=True)
        b = codec.decode_blocks(enc_pf, blocks, with_positions=True, flat_positions=True)
        assert np.array_equal(a.docids, b.docids)
        assert np.array_equal(a.tfs, b.tfs)
        assert np.array_equal(a.doclens, b.doclens)
        assert np.array_equal(a.positions, b.positions)


def test_mega_batch_encoder_pfor_byte_identical():
    """The pfor branch of the streaming encoder (per-run re-encode) must
    produce rows byte-identical to per-run encode_postings(fmt='pfor'),
    including carry-spanning and single-posting runs."""
    import pyarrow as pa

    from honeywell_search_engine_spark.index.segments import make_segment_encoder

    rng = _rng()
    rows, expected = [], {}
    for term, n_docs in [("alpha", 300), ("beta", 1), ("gamma", 129), ("delta", 7)]:
        for shard in (0, 1):
            lids = np.sort(rng.choice(5000, size=n_docs, replace=False)).astype(np.int64)
            tfs = rng.integers(1, 5, size=n_docs).astype(np.uint64)
            dls = rng.integers(20, 90, size=n_docs).astype(np.uint64)
            flat = [
                np.sort(rng.choice(200, size=int(tf), replace=False)) for tf in tfs
            ]
            pos = np.concatenate(flat).astype(np.uint64)
            expected[(term, shard)] = codec.encode_postings(
                lids.astype(np.uint64), tfs, dls, positions=pos,
                fmt=codec.FMT_PFOR,
            )
            for lid, tf, dl, pp in zip(lids, tfs, dls, flat):
                for p in pp:
                    rows.append((term, shard, int(lid), int(dl), int(p)))
    rows.sort(key=lambda r: (r[0], r[1], r[2], r[4]))
    pdf = pd.DataFrame(rows, columns=["term", "shard", "lid", "doclen", "pos"])
    batches = [
        pa.RecordBatch.from_pandas(pdf.iloc[i : i + 97])
        for i in range(0, len(pdf), 97)
    ]
    out = pd.concat(
        [
            b.to_pandas()
            for b in make_segment_encoder(16, fmt=codec.FMT_PFOR)(iter(batches))
        ]
    )
    assert len(out) == len(expected)
    for _, r in out.iterrows():
        enc = expected[(r["term"], int(r["shard"]))]
        assert int(r["fmt"]) == codec.FMT_TAGS[codec.FMT_PFOR]
        assert r["n"] == enc.n
        assert bytes(r["deltas"]) == enc.deltas
        assert bytes(r["tfs"]) == enc.tfs
        assert bytes(r["doclens"]) == enc.doclens
        assert bytes(r["positions"]) == enc.positions
        assert list(r["d_off"]) == enc.d_off.tolist()
        assert list(r["t_off"]) == enc.t_off.tolist()
        assert list(r["l_off"]) == enc.l_off.tolist()
        assert list(r["p_off"]) == enc.p_off.tolist()


# ---------------------------------------------------------------------------
# index level: a pfor-built index answers every query mode identically
# ---------------------------------------------------------------------------


def _build_index(spark, pages_path, tmp_path_factory, fmt):
    from honeywell_search_engine_spark.index.corpus import (
        docs_from_pages,
        tokenized_docs,
    )
    from honeywell_search_engine_spark.index.segments import (
        SegmentIndex,
        build_segments,
    )
    from honeywell_search_engine_spark.sources.pages import read_pages

    out = str(tmp_path_factory.mktemp(f"{fmt}idx") / "idx")
    tok = tokenized_docs(docs_from_pages(read_pages(spark, pages_path)))
    build_segments(
        tok, out, pages_path, n_buckets=16, n_shards=4, buckets_per_job=8,
        codec_fmt=fmt,
    )
    return SegmentIndex(spark, out)


@pytest.fixture(scope="module")
def pfor_index(spark, pages_path, tmp_path_factory):
    return _build_index(spark, pages_path, tmp_path_factory, codec.FMT_PFOR)


@pytest.fixture(scope="module")
def vb_index(spark, pages_path, tmp_path_factory):
    """The same corpus and layout as pfor_index, varbyte-coded (the
    build's default codec is pfor)."""
    return _build_index(spark, pages_path, tmp_path_factory, codec.FMT_VB)


def test_pfor_index_flag_and_rows(pfor_index, spark):
    assert pfor_index.codec_fmt == codec.FMT_PFOR
    fmts = (
        spark.read.parquet(f"{pfor_index.path}/segments")
        .select("fmt").distinct().collect()
    )
    assert [r["fmt"] for r in fmts] == [codec.FMT_TAGS[codec.FMT_PFOR]]


def test_pfor_wand_matches_oracle(pfor_index, oracle):
    from honeywell_search_engine_spark.query.wand import bm25_topk_wand
    from honeywell_search_engine_spark.sources.pages import reference_queries

    for name, q in sorted(reference_queries().items()):
        got = [
            (r["docid"], r["score"])
            for r in bm25_topk_wand(pfor_index, q, k=10).collect()
        ]
        assert got == oracle.search(q, k=10), name


def test_pfor_positional_and_websearch_match_vb(pfor_index, vb_index):
    from honeywell_search_engine_spark.query import wand as W
    from honeywell_search_engine_spark.sources.pages import vocabulary

    v = vocabulary()
    for fn, args in [
        (W.bm25_topk_phrase, (f"{v[0]} {v[1]}",)),
        (W.bm25_topk_phrase, (f"{v[5]} {v[6]}",)),
        (W.bm25_topk_near_unordered, (f"{v[0]} {v[2]}",)),
        (W.bm25_topk_websearch, (f'"{v[0]} {v[1]}" -{v[7]}',)),
        (W.bm25_topk_websearch, (f"{v[3]} or {v[4]}",)),
    ]:
        a = fn(vb_index, *args, k=10).toPandas()
        b = fn(pfor_index, *args, k=10).toPandas()
        pd.testing.assert_frame_equal(a, b)


def test_pfor_serving_matches_vb(pfor_index, vb_index):
    from honeywell_search_engine_spark.query.local import ServingIndex
    from honeywell_search_engine_spark.sources.pages import reference_queries

    sa = ServingIndex(vb_index.path)
    sb = ServingIndex(pfor_index.path)
    assert sa.codec_fmt == codec.FMT_VB
    assert sb.codec_fmt == codec.FMT_PFOR
    for name, q in sorted(reference_queries().items()):
        assert sa.search(q, k=10) == sb.search(q, k=10), name


def test_cold_serving_query_one_block_decode_per_stream(pfor_index, oracle, monkeypatch):
    """A cold multi-term query over a multi-shard pfor index holds one
    fused list per term over every shard and decodes every list it misses
    in ONE batch: one pfor_decode_at call per stream (deltas, tfs,
    doclens), not three per list. A warm repeat
    decodes nothing; a phrase over two of its terms upgrades their lists
    with positions in one more batch. Every answer equals the oracle's."""
    from honeywell_search_engine_spark.query.local import ServingIndex
    from honeywell_search_engine_spark.sources.pages import vocabulary

    calls = []
    real = codec.pfor_decode_at

    def counting(buf, offs, counts):
        calls.append(np.size(counts))
        return real(buf, offs, counts)

    monkeypatch.setattr(codec, "pfor_decode_at", counting)
    v = vocabulary()
    q, phrase = f"{v[0]} {v[1]} {v[2]}", f"{v[0]} {v[1]}"
    sv = ServingIndex(pfor_index.path)
    assert sv.codec_fmt == codec.FMT_PFOR
    got = sv.search(q, k=10, mode="or")
    assert got == oracle.search_or(q, k=10)
    n_lists = len(sv._dec_lru)
    assert n_lists == 3  # 3 terms, each one list over the 4 shards
    assert len(calls) == 3, calls
    # each call spans every block of every list, all shards included
    assert min(calls) == sum(ml.bmax_docid.size for ml in sv._dec_lru.values())
    assert min(calls) >= 3 * sv.n_shards
    calls.clear()
    assert sv.search(q, k=10, mode="or") == got
    assert calls == []
    assert sv.search_phrase(phrase, k=10) == oracle.search_phrase(phrase, k=10)
    assert len(calls) == 3, calls
    assert len(sv._dec_lru) == n_lists


def test_pfor_payload_not_larger(pfor_index, vb_index, spark):
    """Raw stream payload of the pfor index must not exceed varbyte's on
    the same corpus (parquet sizes also shrink but are compressor-noisy)."""
    from pyspark.sql import functions as F

    def payload(idx):
        return (
            spark.read.parquet(f"{idx.path}/segments")
            .agg(
                F.sum(
                    F.length("deltas") + F.length("tfs") + F.length("doclens")
                ).alias("b")
            )
            .collect()[0]["b"]
        )

    assert payload(pfor_index) <= payload(vb_index)


def test_codec_resume_mismatch_refused(spark, pages_path, pfor_index):
    from honeywell_search_engine_spark.index.corpus import (
        docs_from_pages,
        tokenized_docs,
    )
    from honeywell_search_engine_spark.index.segments import build_segments
    from honeywell_search_engine_spark.sources.pages import read_pages

    tok = tokenized_docs(docs_from_pages(read_pages(spark, pages_path)))
    with pytest.raises(ValueError, match="codec"):
        build_segments(
            tok, pfor_index.path, pages_path,
            n_buckets=16, n_shards=4, codec_fmt=codec.FMT_VB,
        )


def test_pfor_compact_preserves_fmt_and_results(
    spark, pages_path, pages_pdf, tmp_path_factory
):
    """delete -> compact on a pfor index: rewritten rows keep fmt=pfor and
    the compacted index equals a from-scratch oracle on the reduced corpus
    (N/df/avgdl shift with the deletions)."""
    from honeywell_search_engine_spark.index.corpus import (
        docid_py,
        docs_from_pages,
        tokenized_docs,
    )
    from honeywell_search_engine_spark.index.maintenance import compact, delete_docs
    from honeywell_search_engine_spark.index.segments import (
        SegmentIndex,
        build_segments,
    )
    from honeywell_search_engine_spark.oracle import OracleIndex
    from honeywell_search_engine_spark.query.wand import bm25_topk_wand
    from honeywell_search_engine_spark.sources.pages import (
        read_pages,
        reference_queries,
    )

    out = str(tmp_path_factory.mktemp("pforcomp") / "idx")
    tok = tokenized_docs(docs_from_pages(read_pages(spark, pages_path)))
    build_segments(
        tok, out, pages_path, n_buckets=16, n_shards=4, buckets_per_job=8,
        codec_fmt=codec.FMT_PFOR,
    )
    q = reference_queries()["q06"]
    idx = SegmentIndex(spark, out)
    base = [r["docid"] for r in bm25_topk_wand(idx, q, k=10).collect()]
    assert base, "marker query must hit before deletion"
    victims = base[:2]
    delete_docs(out, victims)
    compact(spark, out)
    fmts = (
        spark.read.parquet(f"{out}/segments").select("fmt").distinct().collect()
    )
    assert [r["fmt"] for r in fmts] == [codec.FMT_TAGS[codec.FMT_PFOR]]
    en = pages_pdf[pages_pdf.lang == "en"]
    reduced_oracle = OracleIndex.build(
        [
            (docid_py(u), t)
            for u, t in zip(en.url, en.text)
            if docid_py(u) not in set(victims)
        ]
    )
    idx2 = SegmentIndex(spark, out)
    got = [
        (r["docid"], r["score"]) for r in bm25_topk_wand(idx2, q, k=10).collect()
    ]
    assert got == reduced_oracle.search(q, k=10)


# ---------------------------------------------------------------------------
# mega-batched run encoder (pfor_encode_runs)
# ---------------------------------------------------------------------------


def _run_cases():
    rng = _rng()
    runs = []
    for c in rng.integers(1, 700, 40):
        kind = int(rng.integers(0, 6))
        if kind == 0:
            v = rng.integers(0, 8, c)
        elif kind == 1:
            v = rng.integers(0, 2**20, c)
        elif kind == 2:  # exception-heavy tail
            v = np.where(
                rng.random(c) < 0.05,
                rng.integers(0, 2**50, c),
                rng.integers(0, 64, c),
            )
        elif kind == 3:
            v = np.zeros(c, dtype=np.int64)
        elif kind == 4:
            v = rng.integers(0, 2**62, c)
        else:  # >53-bit values: the frexp fast path must not misjudge
            v = (rng.integers(0, 2**62, c).astype(np.uint64) << np.uint64(2)) \
                | rng.integers(0, 4, c).astype(np.uint64)
        runs.append(np.asarray(v, dtype=np.uint64))
    runs.append(np.array([2**63, 1, 2**64 - 1, 0, 2**53, 2**53 - 1], np.uint64))
    runs.append(np.ones(1, np.uint64))
    return runs


def test_pfor_encode_runs_byte_identical_to_per_run():
    """Every run's slice of the shared buffer must be byte-identical to
    pfor_encode on that run alone, with identical block offsets — the
    contract the segment encoder's slicing relies on."""
    runs = _run_cases()
    flat = np.concatenate(runs)
    cnts = np.array([r.size for r in runs], dtype=np.int64)
    r_ends = np.cumsum(cnts)
    r_starts = r_ends - cnts
    buf, blk_off, run_nb = codec.pfor_encode_runs(flat, r_starts, r_ends)
    assert blk_off[-1] == len(buf)
    nb_base = np.concatenate(([0], np.cumsum(run_nb)))
    for r, run in enumerate(runs):
        f, g = int(nb_base[r]), int(nb_base[r + 1])
        exp, exp_off = codec.pfor_encode(run)
        assert buf[blk_off[f] : blk_off[g]] == exp, f"run {r}"
        assert np.array_equal(blk_off[f:g] - blk_off[f], exp_off), f"run {r}"
        assert np.array_equal(codec.pfor_decode(exp, run.size), run)


def test_pfor_encode_runs_empty():
    z = np.zeros(0, dtype=np.uint64)
    buf, blk_off, run_nb = codec.pfor_encode_runs(z, z.astype(np.int64), z.astype(np.int64))
    assert buf == b"" and blk_off.tolist() == [0] and run_nb.size == 0


def test_pfor_encode_runs_single_giant_run():
    """One run == plain pfor_encode (block table degenerates to the
    single-stream case)."""
    v = (_rng().zipf(1.4, 50_000) % (2**30)).astype(np.uint64)
    buf, blk_off, run_nb = codec.pfor_encode_runs(
        v, np.array([0], np.int64), np.array([v.size], np.int64)
    )
    exp, exp_off = codec.pfor_encode(v)
    assert buf == exp
    assert np.array_equal(blk_off[:-1], exp_off)
    assert run_nb.tolist() == [exp_off.size]
