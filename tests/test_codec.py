"""Codec invariants: encode∘decode identity, selective block decode,
block-max metadata dominance (SURVEY.md §5.3)."""

import numpy as np
import pytest

from honeywell_search_engine_spark.index.codec import (
    BLOCK,
    bm25_u,
    decode_blocks,
    decode_concat,
    decode_many,
    decode_postings,
    encode_postings,
    varbyte_decode,
    varbyte_encode,
)


@pytest.mark.parametrize("seed", range(8))
def test_varbyte_roundtrip_random(seed):
    rng = np.random.default_rng(seed)
    n = int(rng.integers(1, 3000))
    vals = rng.integers(0, 2**60, size=n).astype(np.uint64)
    assert np.array_equal(varbyte_decode(varbyte_encode(vals), n), vals)


def test_varbyte_edges():
    for vals in ([0], [0, 0, 127, 128, 129, 2**56, 2**63 - 1], [1] * 1000):
        a = np.array(vals, dtype=np.uint64)
        assert np.array_equal(varbyte_decode(varbyte_encode(a), len(a)), a)
    assert varbyte_encode(np.array([], dtype=np.uint64)) == b""


def test_varbyte_block_offsets():
    rng = np.random.default_rng(3)
    vals = rng.integers(0, 2**40, size=1000).astype(np.uint64)
    buf, off = varbyte_encode(vals, block=BLOCK)
    assert off[0] == 0 and len(off) == (len(vals) + BLOCK - 1) // BLOCK
    # each block decodes independently from its offset
    for i in range(len(off)):
        end = off[i + 1] if i + 1 < len(off) else len(buf)
        cnt = min(BLOCK, len(vals) - i * BLOCK)
        got = varbyte_decode(buf[off[i] : end], cnt)
        assert np.array_equal(got, vals[i * BLOCK : i * BLOCK + cnt])


def _random_plist(rng, n):
    docids = np.sort(rng.choice(2**60, size=n, replace=False)).astype(np.uint64)
    tfs = rng.integers(1, 50, size=n).astype(np.uint64)
    dls = rng.integers(8, 4000, size=n).astype(np.uint64)
    return docids, tfs, dls


@pytest.mark.parametrize("seed", range(5))
def test_postings_roundtrip(seed):
    rng = np.random.default_rng(seed)
    docids, tfs, dls = _random_plist(rng, int(rng.integers(1, 2000)))
    enc = encode_postings(docids, tfs, dls)
    pl = decode_postings(enc)
    assert np.array_equal(pl.docids, docids)
    assert np.array_equal(pl.tfs, tfs)
    assert np.array_equal(pl.doclens, dls)


def test_block_metadata_dominates():
    from honeywell_search_engine_spark.index.codec import bm25_u_bound

    rng = np.random.default_rng(9)
    docids, tfs, dls = _random_plist(rng, 1000)
    enc = encode_postings(docids, tfs, dls)
    for b in range(enc.bmax_docid.size):
        s, e = b * BLOCK, min((b + 1) * BLOCK, 1000)
        assert enc.bmax_docid[b] == docids[s:e].max()
        # stored bound is the stats-independent max and dominates the true
        # u under ANY avgdl (so corpus growth never makes pruning lossy)
        assert enc.bmax_u[b] == bm25_u_bound(tfs[s:e]).max()
        for avgdl in (10.0, 250.0, 5000.0):
            assert enc.bmax_u[b] >= bm25_u(tfs[s:e], dls[s:e], avgdl).max()


def test_selective_decode_equals_slices():
    rng = np.random.default_rng(11)
    docids, tfs, dls = _random_plist(rng, 1500)
    enc = encode_postings(docids, tfs, dls)
    nb = enc.bmax_docid.size
    sel = np.unique(rng.integers(0, nb, size=5))
    part = decode_blocks(enc, sel)
    exp = np.concatenate(
        [np.arange(b * BLOCK, min((b + 1) * BLOCK, 1500)) for b in sel]
    )
    assert np.array_equal(part.docids, docids[exp])
    assert np.array_equal(part.tfs, tfs[exp])
    assert np.array_equal(part.doclens, dls[exp])


def test_positions_roundtrip():
    import numpy as np

    rng = np.random.default_rng(3)
    n = 700
    docids = np.cumsum(rng.integers(1, 9, n).astype(np.uint64))
    tfs = rng.integers(1, 5, n).astype(np.uint64)
    dls = rng.integers(30, 400, n).astype(np.uint64)
    # ascending positions per posting
    pos_parts = [
        np.sort(rng.choice(5000, size=int(t), replace=False)).astype(np.uint64)
        for t in tfs
    ]
    flat = np.concatenate(pos_parts)
    enc = encode_postings(docids, tfs, dls, positions=flat)
    pl = decode_postings(enc, with_positions=True)
    assert len(pl.positions) == n
    for got, exp in zip(pl.positions, pos_parts):
        assert np.array_equal(got, exp)
    # selective block decode returns the right positions per posting
    import numpy as np2
    sel = np2.array([0, 2, 4])
    part = decode_blocks(enc, sel, with_positions=True)
    exp_idx = []
    from honeywell_search_engine_spark.index.codec import BLOCK
    for b in sel:
        exp_idx.extend(range(b * BLOCK, min((b + 1) * BLOCK, n)))
    assert len(part.positions) == len(exp_idx)
    for got, i in zip(part.positions, exp_idx):
        assert np.array_equal(got, pos_parts[i]), i


def test_positions_absent_when_not_encoded():
    import numpy as np

    docids = np.array([3, 9, 12], dtype=np.uint64)
    enc = encode_postings(docids, np.array([1, 2, 1]), np.array([10, 20, 30]))
    assert decode_postings(enc, with_positions=True).positions is None


def test_mega_batch_encoder_byte_identical():
    """The mega-batched segment encoder (one varbyte call per stream per
    Arrow batch) must produce byte-identical rows to per-run
    codec.encode_postings — including runs that span Arrow batch
    boundaries (the carry path) and single-posting runs."""
    import numpy as np
    import pandas as pd

    from honeywell_search_engine_spark.index import codec
    from honeywell_search_engine_spark.index.segments import make_segment_encoder

    rng = np.random.default_rng(5)
    rows = []
    expected = {}
    for term, n_docs in [("alpha", 300), ("beta", 1), ("gamma", 129), ("delta", 7)]:
        for shard in (0, 1):
            lids = np.sort(rng.choice(5000, size=n_docs, replace=False)).astype(np.int64)
            tfs = rng.integers(1, 5, size=n_docs).astype(np.uint64)
            dls = rng.integers(20, 90, size=n_docs).astype(np.uint64)
            flat = []
            for tf in tfs:
                p = np.sort(rng.choice(200, size=int(tf), replace=False))
                flat.append(p)
            pos = np.concatenate(flat).astype(np.uint64)
            enc = codec.encode_postings(lids.astype(np.uint64), tfs, dls, positions=pos)
            expected[(term, shard)] = enc
            for lid, tf, dl, pp in zip(lids, tfs, dls, flat):
                for p in pp:
                    rows.append((term, shard, int(lid), int(dl), int(p)))
    # partition order: sorted by (term, shard, lid, pos) like phase 1
    rows.sort(key=lambda r: (r[0], r[1], r[2], r[4]))
    pdf = pd.DataFrame(rows, columns=["term", "shard", "lid", "doclen", "pos"])
    # feed in small Arrow batches so runs cross batch boundaries
    import pyarrow as pa

    batches = [
        pa.RecordBatch.from_pandas(pdf.iloc[i : i + 97])
        for i in range(0, len(pdf), 97)
    ]
    out = pd.concat(
        [b.to_pandas() for b in make_segment_encoder(16)(iter(batches))]
    )
    assert len(out) == len(expected)
    for _, r in out.iterrows():
        enc = expected[(r["term"], int(r["shard"]))]
        assert r["n"] == enc.n
        assert bytes(r["deltas"]) == enc.deltas
        assert bytes(r["tfs"]) == enc.tfs
        assert bytes(r["doclens"]) == enc.doclens
        assert bytes(r["positions"]) == enc.positions
        assert list(r["d_off"]) == enc.d_off.tolist()
        assert list(r["t_off"]) == enc.t_off.tolist()
        assert list(r["l_off"]) == enc.l_off.tolist()
        assert list(r["p_off"]) == enc.p_off.tolist()
        assert list(r["bmax_docid"]) == enc.bmax_docid.tolist()
        assert list(r["bmax_u"]) == enc.bmax_u.tolist()


@pytest.mark.parametrize("fmt", ["vb", "pfor"])
@pytest.mark.parametrize("seed", range(3))
def test_memolist_slices_equal_codec_decode(fmt, seed):
    """MemoList (the serving decoded-LRU representation) must return
    arrays IDENTICAL to codec decode for decode_postings and for
    decode_blocks on arbitrary block subsets — that identity is what
    makes every encoded kernel (and its block-max pruning) valid over a
    MemoList without re-verification."""
    from honeywell_search_engine_spark.index.codec import (
        BLOCK,
        MemoList,
        encode_postings,
    )

    rng = np.random.default_rng(seed)
    n = int(rng.integers(1, 1500))
    docids, tfs, dls = _random_plist(rng, n)
    pos_parts = [
        np.sort(rng.choice(10**6, size=int(t), replace=False)).astype(np.uint64)
        for t in tfs
    ]
    flat = np.concatenate(pos_parts)
    enc = encode_postings(docids, tfs, dls, positions=flat, fmt=fmt)
    ml = MemoList(enc, decode_postings(enc, with_positions=True, flat_positions=True))
    # metadata proxies
    assert ml.n == enc.n and ml.fmt == enc.fmt
    assert np.array_equal(ml.bmax_docid, enc.bmax_docid)
    assert np.array_equal(ml.bmax_u, enc.bmax_u)
    # full decode
    for wp in (False, True):
        a = decode_postings(enc, with_positions=wp, flat_positions=True)
        b = decode_postings(ml, with_positions=wp, flat_positions=True)
        assert np.array_equal(a.docids, b.docids)
        assert np.array_equal(a.tfs, b.tfs)
        assert np.array_equal(a.doclens, b.doclens)
        if wp:
            assert np.array_equal(a.positions, b.positions)
        else:
            assert b.positions is None
    # random block subsets (incl. empty, single, runs, all)
    nblocks = enc.bmax_docid.size
    subsets = [
        np.zeros(0, dtype=np.int64),
        np.array([0]),
        np.arange(nblocks),
    ] + [
        np.unique(rng.choice(nblocks, size=max(1, nblocks // 2)))
        for _ in range(5)
    ]
    for sel in subsets:
        for wp in (False, True):
            a = decode_blocks(enc, sel, with_positions=wp, flat_positions=True)
            b = decode_blocks(ml, sel, with_positions=wp, flat_positions=True)
            assert np.array_equal(a.docids, b.docids), sel
            assert np.array_equal(a.tfs, b.tfs)
            assert np.array_equal(a.doclens, b.doclens)
            if wp:
                assert np.array_equal(a.positions, b.positions), sel
    # cached without positions: positional decode must fail loudly
    ml2 = MemoList(enc, decode_postings(enc))
    with pytest.raises(ValueError):
        decode_postings(ml2, with_positions=True, flat_positions=True)


def _decode_many_lists(fmt, with_pos, sizes, seed=11):
    """Encoded lists of the given sizes, with their source arrays. Every
    third list has a 2^45 docid gap (a PFor exception in its delta
    stream) and a 2^40 doclen (one in its doclen stream)."""
    rng = np.random.default_rng(seed)
    out = []
    for i, n in enumerate(sizes):
        docids = np.sort(rng.choice(10**6, size=n, replace=False)).astype(np.uint64)
        tfs = rng.integers(1, 6, size=n).astype(np.uint64)
        dls = rng.integers(8, 4000, size=n).astype(np.uint64)
        if i % 3 == 0:
            docids[n // 2:] += np.uint64(2**45)
            dls[-1] = np.uint64(2**40)
        pos = None
        if with_pos:
            pos = np.concatenate([
                np.sort(rng.choice(10**5, size=int(t), replace=False)) for t in tfs
            ]).astype(np.uint64)
        enc = encode_postings(docids, tfs, dls, positions=pos, fmt=fmt)
        out.append((enc, (docids, tfs, dls, pos)))
    return out


_SIZES = {
    "single n=1": [1],
    "single 2 blocks": [256],
    "n multiple of 128": [128, 384, 128],
    "mixed sizes": [1, 5, 127, 128, 129, 300, 1, 1000, 2, 255],
}


@pytest.mark.parametrize("sizes", list(_SIZES.values()), ids=list(_SIZES))
@pytest.mark.parametrize("with_pos", [False, True])
@pytest.mark.parametrize("fmt", ["vb", "pfor"])
def test_decode_many_equals_per_list_decode(fmt, with_pos, sizes):
    """decode_many over many lists equals, array for array, each list's
    source arrays, its own decode_postings and its all-blocks
    decode_blocks (the selective path, which decodes each list alone):
    vb and pfor, with and without positions, n = 1, n a multiple of 128,
    PFor exceptions, and a single list."""
    lists = _decode_many_lists(fmt, with_pos, sizes)
    encs = [e for e, _ in lists]
    if fmt == "pfor" and max(sizes) > 1:  # the exceptions are really there
        assert any(e.deltas[e.d_off[-1] + 1] for e in encs)
    got = decode_many(encs, with_positions=True)
    assert len(got) == len(encs)
    for enc, (docids, tfs, dls, pos), pl in zip(encs, [s for _, s in lists], got):
        one = decode_postings(enc, with_positions=True, flat_positions=True)
        blk = decode_blocks(enc, np.arange(enc.bmax_docid.size), with_positions=True,
                            flat_positions=True)
        for a in (pl, one, blk):
            assert a.docids.dtype == np.uint64
            assert np.array_equal(a.docids, docids)
            assert np.array_equal(a.tfs, tfs)
            assert np.array_equal(a.doclens, dls)
            if with_pos:
                assert np.array_equal(a.positions, pos)
            else:
                assert a.positions is None


@pytest.mark.parametrize("fmt", ["vb", "pfor"])
def test_decode_many_mixed_flags(fmt):
    """Per-list position flags in one call: flagged lists get their
    positions, the rest None; a list built without positions is None even
    when flagged. Lists of two codecs in one call (a promoted index can
    hold both) decode as each list alone, in the order given, with
    decode_concat's flat positions back to back for the flagged lists."""
    with_pos = _decode_many_lists(fmt, True, [3, 200, 128, 1, 90], seed=5)
    no_pos = _decode_many_lists(fmt, False, [40, 129], seed=6)
    lists = with_pos[:2] + no_pos[:1] + with_pos[2:] + no_pos[1:]
    flags = [True, False, True, True, False, True, False]
    got = decode_many([e for e, _ in lists], with_positions=flags)
    for (enc, (docids, tfs, dls, pos)), flag, pl in zip(lists, flags, got):
        assert np.array_equal(pl.docids, docids)
        assert np.array_equal(pl.tfs, tfs)
        assert np.array_equal(pl.doclens, dls)
        if flag and pos is not None:
            assert np.array_equal(pl.positions, pos)
            per_posting = decode_postings(enc, with_positions=True).positions
            assert all(np.array_equal(a, b) for a, b in
                       zip(per_posting, np.split(pos, np.cumsum(tfs.astype(np.int64))[:-1])))
        else:
            assert pl.positions is None
    assert decode_many([]) == []
    other = _decode_many_lists("pfor" if fmt == "vb" else "vb", True, [10, 300, 1], seed=7)
    mixed = [lists[0], other[0], lists[2], other[1], lists[1], lists[6], other[2]]
    flags = [True, True, False, False, True, True, True]
    encs = [e for e, _ in mixed]
    assert len({e.fmt for e in encs}) == 2
    got = decode_many(encs, with_positions=flags)
    for (enc, (docids, tfs, dls, pos)), flag, pl in zip(mixed, flags, got):
        assert np.array_equal(pl.docids, docids)
        assert np.array_equal(pl.tfs, tfs)
        assert np.array_equal(pl.doclens, dls)
        if flag and pos is not None:
            assert np.array_equal(pl.positions, pos)
        else:
            assert pl.positions is None
    cat, want = decode_concat(encs, flags)
    assert want.tolist() == [f and src[3] is not None for f, (_, src) in zip(flags, mixed)]
    assert np.array_equal(cat.docids, np.concatenate([pl.docids for pl in got]))
    assert np.array_equal(cat.tfs, np.concatenate([pl.tfs for pl in got]))
    assert np.array_equal(cat.positions, np.concatenate([pl.positions for pl in got if pl.positions is not None]))
