"""Posting-list codec: docid-delta + varbyte, 128-entry blocks, per-block
(max_docid, max_u) metadata. Pure numpy, fully vectorized — runs inside
Arrow-batched pandas UDFs (never per-row Python).

Replaces the reference's Postgres GIN posting lists
(backend/migrations/003_add_lexical_and_triples.sql:2-7) with an explicit,
immutable, scan-prunable layout (SURVEY.md §1.4 `postings`).

Block metadata:
- max_docid: last (largest) docid in the block — drives docid-skipping
  (decode only blocks whose range can contain a candidate);
- max_u: max over the block of the idf-free BM25 factor
      u = tf*(k1+1) / (tf + k1*(1 - b + b*doclen/avgdl))
  so a block's score upper bound is idf(term) * max_u. Storing the
  idf-free part means segments never depend on global df and stay valid
  under corpus growth re-stats (idf is applied at query time from the
  broadcast term_stats).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from honeywell_search_engine_spark import B, K1

BLOCK = 128


def varbyte_encode(values: np.ndarray, block: int | None = None):
    """Vectorized 7-bit varbyte (LEB128-style, little-endian groups,
    high bit = continuation). values: non-negative int64/uint64.

    Returns bytes; with ``block`` set, returns (bytes, offsets) where
    offsets[i] is the byte offset of the first value of block i — the
    random-access handle for selective block decode.
    """
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return (b"", np.zeros(0, dtype=np.int64)) if block else b""
    # number of 7-bit digits per value (at least 1; v=0 -> 1 digit)
    nbits = 64 - _clz64(v)
    ndig = (nbits + 6) // 7
    ends = np.cumsum(ndig)
    total = int(ends[-1])
    out = np.zeros(total, dtype=np.uint8)
    pos = ends - ndig
    rem = v.copy()
    max_d = int(ndig.max())
    for d in range(max_d):
        mask = ndig > d
        idx = pos[mask] + d
        byte = (rem[mask] & np.uint64(0x7F)).astype(np.uint8)
        cont = (ndig[mask] > d + 1).astype(np.uint8) << 7
        out[idx] = byte | cont
        rem[mask] >>= np.uint64(7)
    buf = out.tobytes()
    if block:
        offsets = pos[::block].astype(np.int64)
        return buf, offsets
    return buf


def _clz64(v: np.ndarray) -> np.ndarray:
    """Count leading zeros per uint64 (vectorized via float exponent for
    values < 2^53 and a loop fallback for the tail)."""
    v = v.astype(np.uint64)
    bits = np.zeros(v.shape, dtype=np.int64)
    x = v.copy()
    for shift in (32, 16, 8, 4, 2, 1):
        hi = x >> np.uint64(shift)
        has = hi > 0
        bits[has] += shift
        x = np.where(has, hi, x)
    # bits = floor(log2(v)) for v>0; bit length = bits+1; define clz
    bitlen = np.where(v > 0, bits + 1, 1)
    return 64 - bitlen


def varbyte_decode(buf: bytes, n: int) -> np.ndarray:
    """Decode n values. Vectorized: group bytes by continuation bits."""
    if n == 0:
        return np.zeros(0, dtype=np.uint64)
    raw = np.frombuffer(buf, dtype=np.uint8)
    is_last = (raw & 0x80) == 0
    # index of value each byte belongs to: cumsum of is_last shifted
    val_idx = np.zeros(raw.size, dtype=np.int64)
    np.cumsum(is_last[:-1], out=val_idx[1:])
    # digit position within value
    starts = np.concatenate(([0], np.flatnonzero(is_last)[:-1] + 1))
    digit = np.arange(raw.size, dtype=np.int64) - starts[val_idx]
    out = np.zeros(n, dtype=np.uint64)
    np.add.at(
        out,
        val_idx,
        (raw & np.uint8(0x7F)).astype(np.uint64) << (7 * digit).astype(np.uint64),
    )
    return out


# ---------------------------------------------------------------------------
# PForDelta block codec (opt-in alternative to varbyte for the three
# per-posting streams). Classic patched frame-of-reference in the NewPFD
# family (Zukowski et al., ICDE 2006; Yan/Ding/Suel, WWW 2009 — public
# algorithms): each 128-value block bit-packs the low `b` bits of every
# value and patches the few values that do not fit ("exceptions") out of
# line. The bit width is chosen PER BLOCK by exact byte-cost minimization
# (deterministic: smallest width wins ties), so the codec never does worse
# than ~the entropy of the block's common case while staying random-access
# at block granularity — the same skip/decode contract varbyte has here
# (d_off/t_off/l_off byte offsets per block; delta chains reset per block).
#
# Block layout (self-delimiting):
#   [b: 1 byte] [n_exc: 1 byte] [exc_section_len: 2 bytes LE]
#   [packed low bits: ceil(m*b/8) bytes, values little-endian bit order]
#   [exception slots: n_exc bytes (uint8 in-block positions, ascending)]
#   [exception high parts (value >> b): varbyte]
#
# The positions stream keeps varbyte in both formats: it is sliced by
# per-VALUE offsets in the mega-batched segment encoder (block=1), which
# requires a value-wise-independent code.
# ---------------------------------------------------------------------------

_PFOR_HDR = 4

# W[l, b] = bytes an exception with bit length l costs at width b
# (1 position byte + ceil((l-b)/7) varbyte digits for the high part).
_PFOR_EXC_COST = np.zeros((65, 65), dtype=np.int64)
for _l in range(65):
    for _b in range(65):
        if _l > _b:
            _PFOR_EXC_COST[_l, _b] = 1 + (_l - _b + 6) // 7
del _l, _b
_PFOR_FULL_MASK = np.uint64(0xFFFFFFFFFFFFFFFF)
# the low-w-bits mask of every width 0..64
_PFOR_MASKS = np.array([(1 << b) - 1 for b in range(65)], dtype=np.uint64)


def _pfor_bitlen(v: np.ndarray) -> np.ndarray:
    """Bit length per value with bitlen(0) = 0 (a zero fits ANY width,
    including b=0 — unlike varbyte's 1-digit-minimum convention).

    Fast path: float64 conversion is EXACT below 2^53, and frexp's
    exponent of an exact conversion is precisely the bit length
    (frexp(0) = (0.0, 0) gives bitlen(0) = 0 for free). The >= 2^53
    tail — where rounding could overstate the length — falls back to
    the exact shift chain. ~6x faster than the shift chain on the
    all-small posting streams this encodes."""
    v = np.asarray(v, dtype=np.uint64)
    _, e = np.frexp(v.astype(np.float64))
    bl = e.astype(np.int64)
    big = v >= np.uint64(1 << 53)
    if big.any():
        bl[big] = 64 - _clz64(v[big])
    return bl


def _pack_lowbits(vals: np.ndarray, b: int) -> np.ndarray:
    """Bit-pack the low `b` bits of every value, little-endian bit order,
    row-wise: vals (rows, m) uint64 -> packed (rows, ceil(m*b/8)) uint8.
    Byte-level: cast to the minimal unsigned dtype, explode to bits with
    one unpackbits, keep the low b bits per value, repack — all uint8 C
    kernels, no 64-bit-wide intermediate (the naive (vals >> arange) & 1
    materializes 8 bytes per BIT and is memory-bound)."""
    rows, m = vals.shape
    dt = np.dtype(  # explicit little-endian: the view below is byte order
        "<u1" if b <= 8 else "<u2" if b <= 16 else "<u4" if b <= 32 else "<u8"
    )
    dtbits = dt.itemsize * 8
    small = np.ascontiguousarray(vals.astype(dt, copy=False))
    bits = np.unpackbits(
        small.view(np.uint8).reshape(rows, m * dtbits // 8),
        axis=1, bitorder="little",
    ).reshape(rows, m, dtbits)[:, :, :b]
    return np.packbits(
        np.ascontiguousarray(bits).reshape(rows, m * b),
        axis=1, bitorder="little",
    )


def _pfor_pack_block(v: np.ndarray, pl: np.ndarray) -> bytes:
    """Encode ONE block (m <= 255 values, uint64) -> self-delimiting bytes."""
    m = v.size
    widths = (m * np.arange(65, dtype=np.int64) + 7) // 8
    hist = np.bincount(pl, minlength=65)
    costs = _PFOR_HDR + widths + hist @ _PFOR_EXC_COST
    b = int(np.argmin(costs))  # ties -> smallest width
    mask = _PFOR_FULL_MASK if b == 64 else np.uint64((1 << b) - 1)
    low = v & mask
    packed = _pack_lowbits(low[None, :], b).tobytes() if b else b""
    exc = np.flatnonzero(pl > b)
    if exc.size:
        high = v[exc] >> np.uint64(b)
        exc_sec = exc.astype(np.uint8).tobytes() + varbyte_encode(high)
    else:
        exc_sec = b""
    return (
        bytes((b, exc.size))
        + len(exc_sec).to_bytes(2, "little")
        + packed
        + exc_sec
    )


def pfor_encode(values: np.ndarray, block: int = BLOCK):
    """PForDelta-encode a stream in `block`-value blocks. Returns
    (bytes, offsets) with the SAME contract as varbyte_encode(block=...):
    offsets[i] is the byte offset of block i — the random-access handle."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b"", np.zeros(0, dtype=np.int64)
    pl = _pfor_bitlen(v)
    chunks = []
    offsets = np.empty((v.size + block - 1) // block, dtype=np.int64)
    off = 0
    for i, s in enumerate(range(0, v.size, block)):
        offsets[i] = off
        chunk = _pfor_pack_block(v[s : s + block], pl[s : s + block])
        chunks.append(chunk)
        off += len(chunk)
    return b"".join(chunks), offsets


def pfor_encode_runs(values: np.ndarray, r_starts: np.ndarray, r_ends: np.ndarray):
    """MEGA-BATCHED PFor: encode MANY runs (posting lists) from one flat
    value array in one vectorized pass — the pfor analog of the segment
    encoder's shared-buffer varbyte trick. Per-run output is a contiguous
    slice of the returned buffer, BYTE-IDENTICAL to pfor_encode on the
    run's values (tested), so the per-run Python cost drops to slicing.

    Returns (buf, blk_off, run_nb):
      buf      — all runs' blocks back-to-back;
      blk_off  — int64 GLOBAL byte offset of every block (all runs, in
                 order) plus a final sentinel = len(buf);
      run_nb   — int64 number of blocks per run.
    Run r's bytes are buf[blk_off[f] : blk_off[f + run_nb[r]]] with
    f = run_nb[:r].sum(); its per-block offsets are blk_off[f:...] -
    blk_off[f].
    """
    v = np.asarray(values, dtype=np.uint64)
    r_starts = np.asarray(r_starts, dtype=np.int64)
    r_ends = np.asarray(r_ends, dtype=np.int64)
    cnt = r_ends - r_starts
    nb = (cnt + BLOCK - 1) // BLOCK
    B = int(nb.sum())
    if B == 0:
        return b"", np.zeros(1, dtype=np.int64), nb
    n = v.size
    # ---- global block table -------------------------------------------------
    nb_base = np.concatenate(([0], np.cumsum(nb)))  # first block id per run
    blk_run = np.repeat(np.arange(r_starts.size), nb)
    within = np.arange(B, dtype=np.int64) - nb_base[blk_run]
    blk_start = r_starts[blk_run] + within * BLOCK
    blk_m = np.minimum(BLOCK, cnt[blk_run] - within * BLOCK)
    # per-value block id + position inside its block
    run_of_val = np.repeat(np.arange(r_starts.size), cnt)
    # values outside any run (gaps between r_ends[i] and r_starts[i+1]) are
    # not supported: runs must tile their slice of `values`
    pos_in_run = np.arange(n, dtype=np.int64)[: run_of_val.size] - r_starts[run_of_val]
    blk_of_val = nb_base[run_of_val] + pos_in_run // BLOCK
    pos_in_blk = pos_in_run % BLOCK
    vv = v[: run_of_val.size]
    pl = _pfor_bitlen(vv)
    # ---- per-block width by exact cost minimization ------------------------
    # Searching widths 0..max_bitlen only is exact: for b >= max_bitlen the
    # exception cost is 0 and the packed-bytes term is non-decreasing in b,
    # so cost(max_bitlen) <= cost(b > max_bitlen) and argmin's
    # smallest-index tie-break never picks a width above max_bitlen —
    # identical to _pfor_pack_block's full 0..64 argmin (tested).
    W = int(pl.max()) if pl.size else 0
    hist = np.bincount(
        blk_of_val * (W + 1) + pl, minlength=B * (W + 1)
    ).reshape(B, W + 1)
    widths = (blk_m[:, None] * np.arange(W + 1, dtype=np.int64) + 7) // 8
    costs = _PFOR_HDR + widths + hist @ _PFOR_EXC_COST[: W + 1, : W + 1]
    w = np.argmin(costs, axis=1).astype(np.int64)  # ties -> smallest width
    # ---- section sizes ------------------------------------------------------
    pb = (blk_m * w + 7) // 8
    w_of_val = w[blk_of_val]
    exc_mask = pl > w_of_val
    n_exc = np.bincount(blk_of_val[exc_mask], minlength=B).astype(np.int64)
    exc_digits = (pl[exc_mask] - w_of_val[exc_mask] + 6) // 7
    exc_len = np.bincount(
        blk_of_val[exc_mask], weights=1 + exc_digits, minlength=B
    ).astype(np.int64)
    blk_len = _PFOR_HDR + pb + exc_len
    blk_off = np.concatenate(([0], np.cumsum(blk_len)))
    total = int(blk_off[-1])
    out = np.zeros(total, dtype=np.uint8)
    # ---- headers (vectorized scatter) ---------------------------------------
    hs = blk_off[:-1]
    out[hs] = w.astype(np.uint8)
    out[hs + 1] = n_exc.astype(np.uint8)
    out[hs + 2] = (exc_len & 0xFF).astype(np.uint8)
    out[hs + 3] = (exc_len >> 8).astype(np.uint8)
    # ---- packed low bits, grouped by width ----------------------------------
    # Per group: gather each block's BLOCK-value window as ROWS of a
    # sliding-window view over a minimal-dtype copy of v (uint8 for b<=8 —
    # the dominant posting-stream case). One row-index gather, no 2D int64
    # index array, and every later op runs at 1/2/4 bytes per value.
    # Truncating the cast is safe: only the low b (< dtype bits) bits are
    # stored; values longer than b bits are exceptions and keep exactly
    # their low b bits in the packed section (same as the `& mask` path).
    arange_b = np.arange(BLOCK, dtype=np.int64)
    src: dict = {}

    def _windows(dt: np.dtype) -> np.ndarray:
        if dt not in src:
            padded = np.concatenate(
                [v.astype(dt, copy=False), np.zeros(BLOCK, dtype=dt)]
            )
            src[dt] = np.lib.stride_tricks.sliding_window_view(padded, BLOCK)
        return src[dt]

    for b in np.unique(w):
        b = int(b)
        if b == 0:
            continue
        rows = np.flatnonzero(w == b)
        dt = np.dtype(
            "<u1" if b <= 8 else "<u2" if b <= 16
            else "<u4" if b <= 32 else "<u8"
        )
        vals = _windows(dt)[blk_start[rows]]  # (rows, BLOCK) copy
        vals[arange_b[None, :] >= blk_m[rows][:, None]] = 0  # zero run tails
        if b < dt.itemsize * 8:
            vals &= dt.type((1 << b) - 1)
        packed = _pack_lowbits(vals, b)
        # scatter every block's first pb bytes in ONE fancy-index write
        ps = hs[rows] + _PFOR_HDR
        cols = np.arange(packed.shape[1], dtype=np.int64)
        sel = cols[None, :] < pb[rows][:, None]
        out[(ps[:, None] + cols[None, :])[sel]] = packed[sel]
    # ---- exceptions (rare; one shared varbyte for all high parts) ----------
    if exc_mask.any():
        highs = vv[exc_mask] >> w_of_val[exc_mask].astype(np.uint64)
        hb, hoff = varbyte_encode(highs, block=1)
        hoff = np.append(hoff, len(hb))
        hraw = np.frombuffer(hb, dtype=np.uint8)
        exc_blk = blk_of_val[exc_mask]
        exc_pos = pos_in_blk[exc_mask].astype(np.uint8)
        starts = np.flatnonzero(
            np.concatenate(([True], exc_blk[1:] != exc_blk[:-1]))
        )
        ends = np.append(starts[1:], exc_blk.size)
        for s, e in zip(starts, ends):
            blk = int(exc_blk[s])
            es = int(blk_off[blk] + _PFOR_HDR + pb[blk])
            k = e - s
            out[es : es + k] = exc_pos[s:e]
            out[es + k : es + k + int(hoff[e] - hoff[s])] = hraw[
                int(hoff[s]) : int(hoff[e])
            ]
    return out.tobytes(), blk_off, nb


def pfor_decode(buf, n: int, block: int = BLOCK) -> np.ndarray:
    """Decode n values from consecutive PFor blocks (every block holds
    `block` values except a possibly-partial final one — exactly the shape
    pfor_encode emits), walking the blocks one by one with no offsets: the
    reference pfor_decode_at is tested against, and the splice's one-block
    seam decode (index/promote.py)."""
    if n == 0:
        return np.zeros(0, dtype=np.uint64)
    raw = np.frombuffer(buf, dtype=np.uint8)
    out = np.empty(n, dtype=np.uint64)
    done = 0
    off = 0
    while done < n:
        m = min(block, n - done)
        b = int(raw[off])
        n_exc = int(raw[off + 1])
        exc_len = int(raw[off + 2]) | (int(raw[off + 3]) << 8)
        off += _PFOR_HDR
        nbytes = (m * b + 7) // 8
        if b:
            bits = np.unpackbits(
                raw[off : off + nbytes], count=m * b, bitorder="little"
            ).astype(np.uint64)
            vals = (bits.reshape(m, b) << np.arange(b, dtype=np.uint64)).sum(
                axis=1, dtype=np.uint64
            )
        else:
            vals = np.zeros(m, dtype=np.uint64)
        off += nbytes
        if n_exc:
            pos = raw[off : off + n_exc].astype(np.int64)
            high = varbyte_decode(raw[off + n_exc : off + exc_len], n_exc)
            vals[pos] |= high << np.uint64(b)
        off += exc_len
        out[done : done + m] = vals
        done += m
    return out


def pfor_decode_at(buf, offs: np.ndarray, counts) -> np.ndarray:
    """Vectorized decode of PFor blocks whose byte offsets are KNOWN
    (offs[i] = start of block i in buf — the d_off/t_off/l_off arrays the
    EncodedList stores). `counts` is either the per-block value count (an
    int array, one per block: the blocks of MANY lists in one call, each
    list's last block possibly partial — ``decode_many``) or one int n
    (n values in full blocks, only the last one partial — one stream).
    Block i's values land at out[c[i] : c[i] + counts[i]] with c the
    exclusive cumsum of the counts, and its exceptions are patched at
    those offsets. Inverse of the mega-batched encoder: headers read in
    one gather, the low bits of every value of every block unpacked in
    one more (value j of a block at byte offset off with width w is the
    little-endian 64-bit word at byte off + 4 + (j*w >> 3), shifted right
    by (j*w) & 7 and masked to w bits; a second word supplies the high
    bits only where w + shift > 64), all exception blocks patched in one
    pass (rare by construction — the width minimizer prices them out).

    Equivalent to pfor_decode(buf, n) (tested); the Python cost is
    O(1), not O(width classes), O(blocks) or O(lists)."""
    offs = np.asarray(offs, dtype=np.int64)
    if np.ndim(counts) == 0:
        nb = (int(counts) + BLOCK - 1) // BLOCK
        offs = offs[:nb]
        m = np.full(nb, BLOCK, dtype=np.int64)
        if nb:
            m[-1] = int(counts) - (nb - 1) * BLOCK
    else:
        m = np.asarray(counts, dtype=np.int64)
    n = int(m.sum())
    if n == 0:
        return np.zeros(0, dtype=np.uint64)
    first = np.zeros(m.size, dtype=np.int64)  # output offset of each block
    np.cumsum(m[:-1], out=first[1:])
    raw = np.frombuffer(buf, dtype=np.uint8)
    w = raw[offs].astype(np.int64)
    n_exc = raw[offs + 1].astype(np.int64)
    exc_len = raw[offs + 2].astype(np.int64) | (
        raw[offs + 3].astype(np.int64) << 8
    )
    pb = (m * w + 7) // 8
    # the buffer as overlapping unaligned little-endian words, one per
    # byte; 16 zero bytes of padding keep the second word of the last
    # value in range
    rawp = np.concatenate([raw, np.zeros(16, dtype=np.uint8)])
    words = np.ndarray((rawp.size - 7,), dtype="<u8", buffer=rawp, strides=(1,))
    w_v = np.repeat(w, m)
    # absolute bit offset of every value: block's packed start + j * w
    bit = np.arange(n, dtype=np.int64)
    bit *= w_v
    bit += np.repeat((offs + _PFOR_HDR) * 8 - first * w, m)
    shift = (bit & 7).astype(np.uint64)
    bit >>= 3  # the byte of the value's first bit
    out = words[bit]
    out >>= shift
    if w.max() > 57:  # widths 58..63: a value may straddle two words
        two = np.flatnonzero(w_v + shift.astype(np.int64) > 64)
        out[two] |= words[bit[two] + 8] << (np.uint64(64) - shift[two])
    out &= _PFOR_MASKS[w_v]
    exc_rows = np.flatnonzero(n_exc)
    if exc_rows.size:
        # one pass for ALL exception blocks: gather the position bytes and
        # splice every block's varbyte high-part section into one stream
        # (varbyte is self-delimiting per value, so k_i values per section
        # concatenate losslessly into one sum(k_i)-value decode)
        k = n_exc[exc_rows]
        total = int(k.sum())
        sec = offs[exc_rows] + _PFOR_HDR + pb[exc_rows]
        within = np.arange(total, dtype=np.int64) - np.repeat(
            np.concatenate(([0], np.cumsum(k)))[:-1], k
        )
        pos = raw[np.repeat(sec, k) + within].astype(np.int64)
        hlen = exc_len[exc_rows] - k
        hwithin = np.arange(int(hlen.sum()), dtype=np.int64) - np.repeat(
            np.concatenate(([0], np.cumsum(hlen)))[:-1], hlen
        )
        hbytes = raw[np.repeat(sec + k, hlen) + hwithin]
        high = varbyte_decode(hbytes.tobytes(), total)
        out[np.repeat(first[exc_rows], k) + pos] |= high << np.repeat(
            w[exc_rows], k
        ).astype(np.uint64)
    return out


# stream-level dispatch: EncodedList.fmt -> (encode(values, block) ->
# (bytes, offsets), decode(buf, n) -> uint64 array). "vb" is the default
# production codec (value-wise independence feeds the mega-batched segment
# encoder); "pfor" is the size-optimized option, chosen per build.
FMT_VB = "vb"
FMT_PFOR = "pfor"
# segment-parquet integer tags (schema column `fmt`)
FMT_TAGS = {FMT_VB: 0, FMT_PFOR: 1}
FMT_FROM_TAG = {v: k for k, v in FMT_TAGS.items()}


def bm25_u(tf: np.ndarray, doclen: np.ndarray, avgdl: float) -> np.ndarray:
    """Idf-free BM25 factor, float64 (matches stats.bm25_part_col / oracle)."""
    tf = tf.astype(np.float64)
    norm = K1 * (1.0 - B + B * doclen.astype(np.float64) / float(avgdl))
    return tf * (K1 + 1.0) / (tf + norm)


def bm25_u_bound(tf: np.ndarray) -> np.ndarray:
    """Stats-independent upper bound on u: norm >= k1*(1-b) for every
    doclen/avgdl, so u <= tf*(k1+1)/(tf + k1*(1-b)). Block metadata stores
    THIS bound — segments stay exactly prunable after corpus growth shifts
    avgdl (incremental merges never invalidate untouched buckets).
    Slightly looser than the avgdl-aware max (more blocks decoded for very
    long docs), never lossy."""
    tf = tf.astype(np.float64)
    return tf * (K1 + 1.0) / (tf + K1 * (1.0 - B))


@dataclass
class PostingList:
    """Decoded in-memory posting list for one (term, shard)."""

    docids: np.ndarray  # uint64, ascending
    tfs: np.ndarray  # uint64
    doclens: np.ndarray  # uint64
    positions: list | None = None  # per posting: uint64 array of positions

    @property
    def n(self) -> int:
        return int(self.docids.size)


@dataclass
class EncodedList:
    """One encoded (term, shard) posting list + block metadata."""

    n: int
    bmax_docid: np.ndarray  # int64 per block (last docid of block)
    bmax_u: np.ndarray  # float64 per block (score bound / idf)
    d_off: np.ndarray  # int64 byte offset per block into deltas
    t_off: np.ndarray
    l_off: np.ndarray
    deltas: bytes
    tfs: bytes
    doclens: bytes
    # positional stream (phrase/proximity queries — reference tsvector
    # keeps positions, backend/app/models/pdf_chunks.py:57-60 and
    # migrations/003:32). Per posting: tf positions, first absolute then
    # in-posting deltas; p_off = byte offset per BLOCK. The per-posting
    # split inside a block is derived from the (already decoded) tfs, so
    # positions cost no extra per-posting metadata and are only decoded
    # when a phrase query asks for them.
    positions: bytes = b""
    p_off: np.ndarray | None = None
    # codec of the deltas/tfs/doclens streams: FMT_VB (default) or
    # FMT_PFOR. positions are ALWAYS varbyte (see the PFor section note).
    fmt: str = FMT_VB
    # a fused list (``fuse``): each block's first posting (then n) and the
    # docid its delta chain starts from. None for one shard's list, whose
    # block b starts at b * BLOCK and chains off bmax_docid[b - 1]
    b_start: np.ndarray | None = None
    b_base: np.ndarray | None = None


# a fused list keys every posting (shard << KEY_BITS) | lid: one int64
# per posting, ascending in (shard, lid)
KEY_BITS = 32
LID_MASK = (1 << KEY_BITS) - 1
_KEY_MAX_SHARD = 1 << 31  # the shard bits stay below the int64 sign bit


def keys_of(shards, lids) -> np.ndarray:
    """The int64 posting keys of aligned `shards` and `lids` (either may
    be one value)."""
    return (np.asarray(shards, dtype=np.int64) << KEY_BITS) | np.asarray(lids, dtype=np.int64)


def _layout(encs: list) -> tuple[np.ndarray, np.ndarray]:
    """(posting count, uint64 delta base) of every block of `encs`, back
    to back: one shard's list has BLOCK postings per block (the last one
    the rest) and chains block b off bmax_docid[b - 1] (0 for block 0);
    a fused list carries its own."""
    nbs = np.fromiter((e.bmax_docid.size for e in encs), dtype=np.int64, count=len(encs))
    ns = np.fromiter((e.n for e in encs), dtype=np.int64, count=len(encs))
    first = np.cumsum(nbs) - nbs
    counts = np.full(int(nbs.sum()), BLOCK, dtype=np.int64)
    counts[first + nbs - 1] = ns - (nbs - 1) * BLOCK
    bases = np.zeros(counts.size, dtype=np.uint64)
    bases[1:] = np.concatenate([e.bmax_docid for e in encs])[:-1]
    bases[first] = 0
    for e, f, nb in zip(encs, first, nbs):
        if e.b_start is not None:
            counts[f : f + nb] = np.diff(e.b_start)
            bases[f : f + nb] = e.b_base
    return counts, bases


def _block_layout(enc: EncodedList, blocks: np.ndarray) -> tuple:
    """(first posting, posting count, uint64 delta base) of the selected
    `blocks` of one list, as ``_layout`` reads them, in O(len(blocks))."""
    if enc.b_start is not None:
        first = enc.b_start[blocks]
        return first, enc.b_start[blocks + 1] - first, enc.b_base[blocks]
    first = blocks * BLOCK
    bases = np.zeros(blocks.size, dtype=np.uint64)
    bases[blocks > 0] = enc.bmax_docid[blocks[blocks > 0] - 1]
    return first, np.minimum(first + BLOCK, enc.n) - first, bases


def _restart(deltas: np.ndarray, counts: np.ndarray, bases: np.ndarray) -> np.ndarray:
    """Docids of blocks decoded back to back: one cumsum of the deltas
    whose chain restarts at each block (of `counts` postings) from its
    base (modular uint64 arithmetic, exact)."""
    csum = np.cumsum(deltas, dtype=np.uint64)
    first = np.cumsum(counts) - counts
    before = np.zeros(counts.size, dtype=np.uint64)
    before[1:] = csum[first[1:] - 1]
    return csum + np.repeat(bases - before, counts)


def fuse(groups: list) -> list[EncodedList]:
    """One list per group of `groups` ([(shard, EncodedList)] of one term,
    ascending shards, each part one shard's list), all in one vectorized
    pass: docids keyed (shard << KEY_BITS) | lid, byte streams joined with
    their block offsets shifted, and b_start / b_base recording where each
    part's blocks start and restart, so every decode reads it as one list
    (one part is the special case). A group keeps its positions when every
    part has them. ValueError when a key cannot hold a posting — a shard
    outside [0, 2**31) or a lid of 2**32 or more — so none collide."""
    parts = [p for g in groups for p in g]
    if not parts:
        return []
    encs = [e for _, e in parts]
    shards = np.fromiter((s for s, _ in parts), dtype=np.int64, count=len(parts))
    if shards.min() < 0 or shards.max() >= _KEY_MAX_SHARD:
        raise ValueError(f"shard ids must lie in [0, 2**31) to key postings; got {shards.tolist()}")
    if len({e.fmt for e in encs}) > 1:
        raise ValueError("fuse takes lists of one codec (one index)")
    nbs = np.fromiter((e.bmax_docid.size for e in encs), dtype=np.int64, count=len(encs))
    bmax = np.concatenate([e.bmax_docid for e in encs])
    if bmax[np.cumsum(nbs) - 1].max() >> KEY_BITS:
        raise ValueError("local ids must be below 2**32 to key postings")
    prefix = np.repeat(keys_of(shards, 0), nbs)
    bmax += prefix
    bmax_u = np.concatenate([e.bmax_u for e in encs])
    counts, bases = _layout(encs)
    bases += prefix.astype(np.uint64)
    starts = np.zeros(counts.size + 1, dtype=np.int64)
    np.cumsum(counts, out=starts[1:])
    bounds = np.zeros(len(groups) + 1, dtype=np.int64)  # each group's parts
    np.cumsum([len(g) for g in groups], out=bounds[1:])
    blk = np.concatenate(([0], np.cumsum(nbs)))[bounds]  # and its blocks
    (deltas, d_off), (tfs, t_off), (doclens, l_off) = (
        _joined(encs, *st, bounds) for st in _STREAMS)
    pos = [all(e.p_off is not None for e in encs[a:b]) for a, b in zip(bounds, bounds[1:])]
    positions, p_off = _joined(encs, "positions", "p_off", bounds)
    out = []
    for g, (a, b) in enumerate(zip(blk[:-1].tolist(), blk[1:].tolist())):
        out.append(EncodedList(
            int(starts[b] - starts[a]), bmax[a:b], bmax_u[a:b],
            d_off[a:b], t_off[a:b], l_off[a:b], deltas[g], tfs[g], doclens[g],
            positions[g] if pos[g] else b"", p_off[a:b] if pos[g] else None,
            encs[0].fmt, starts[a : b + 1] - starts[a], bases[a:b],
        ))
    return out


def encode_postings(
    docids: np.ndarray,
    tfs: np.ndarray,
    doclens: np.ndarray,
    positions: np.ndarray | None = None,
    fmt: str = FMT_VB,
    prev_docid: int = 0,
) -> EncodedList:
    """Encode one sorted posting list. docids MUST be ascending and unique.
    tf is stored as tf-1 (tf >= 1 always), doclen as-is. `positions`, if
    given, is the flat ascending-per-posting position array (length =
    sum(tfs)) ordered by (docid, position).

    `prev_docid` sets the delta-chain base of the FIRST value (default 0 =
    the first delta is the absolute docid). Block b>0 of any list already
    chains off bmax_docid[b-1] (decode_blocks), so an encode with
    prev_docid = last docid of an existing list produces blocks that can
    be byte-appended to that list — the segment-splice merge path
    (index/promote.py)."""
    docids = np.asarray(docids, dtype=np.uint64)
    n = docids.size
    assert n > 0
    deltas = np.empty(n, dtype=np.uint64)
    deltas[0] = docids[0] - np.uint64(prev_docid)
    np.subtract(docids[1:], docids[:-1], out=deltas[1:])
    u = bm25_u_bound(np.asarray(tfs))  # stats-independent bound (see above)
    nblocks = (n + BLOCK - 1) // BLOCK
    pad = nblocks * BLOCK - n

    def blockify(a, fill):
        if pad:
            a = np.concatenate([a, np.full(pad, fill, dtype=a.dtype)])
        return a.reshape(nblocks, BLOCK)

    bmax_docid = blockify(docids, 0).max(axis=1).astype(np.int64)
    bmax_u = blockify(u, -np.inf).max(axis=1).astype(np.float64)
    enc_stream = pfor_encode if fmt == FMT_PFOR else varbyte_encode
    d_b, d_off = enc_stream(deltas, block=BLOCK)
    tfs_u = np.asarray(tfs, dtype=np.uint64)
    t_b, t_off = enc_stream(tfs_u - np.uint64(1), block=BLOCK)
    l_b, l_off = enc_stream(np.asarray(doclens, dtype=np.uint64), block=BLOCK)
    p_b, p_off = b"", None
    if positions is not None:
        pos = np.asarray(positions, dtype=np.uint64)
        assert pos.size == int(tfs_u.sum())
        # in-posting deltas: first position absolute, rest diffs
        starts = np.zeros(n, dtype=np.int64)
        np.cumsum(tfs_u[:-1].astype(np.int64), out=starts[1:])
        pdel = np.empty(pos.size, dtype=np.uint64)
        pdel[0:] = pos
        pdel[1:] = pos[1:] - pos[:-1]
        pdel[starts] = pos[starts]  # reset delta chain at posting starts
        # block byte offsets: positions of the first value of each BLOCK of
        # postings = flat index starts[b*BLOCK]
        p_b_full, p_val_off = varbyte_encode(pdel, block=1)
        blk_first = starts[::BLOCK]
        p_off = p_val_off[blk_first].astype(np.int64)
        p_b = p_b_full
    return EncodedList(
        int(n), bmax_docid, bmax_u, d_off, t_off, l_off, d_b, t_b, l_b,
        p_b, p_off, fmt,
    )


def _abs_positions(flat: np.ndarray, tfs: np.ndarray) -> np.ndarray:
    """Flat decoded position-deltas -> flat ABSOLUTE positions (the cumsum
    restarts at each posting) — fully vectorized segmented cumsum: one
    global cumsum, then subtract each segment's base. Valid because every
    delta is >= 0, so the global cumsum is non-decreasing and each
    segment's base propagates with maximum.accumulate."""
    if flat.size == 0:
        return flat.astype(np.uint64)
    tfs64 = tfs.astype(np.int64)
    starts = np.zeros(tfs64.size, dtype=np.int64)
    np.cumsum(tfs64[:-1], out=starts[1:])
    csum = np.cumsum(flat, dtype=np.uint64)
    base = np.zeros(flat.size, dtype=np.uint64)
    nz = starts[starts > 0]
    base[nz] = csum[nz - 1]
    base = np.maximum.accumulate(base)
    return csum - base


def _split_positions(flat: np.ndarray, tfs: np.ndarray) -> list:
    """Flat decoded position-deltas -> list of absolute position arrays,
    one per posting."""
    ends = np.cumsum(tfs.astype(np.int64))
    return np.split(_abs_positions(flat, tfs), ends[:-1])[: tfs.size]


def _ranges(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Concatenation of arange(starts[i], starts[i] + lens[i]) over i."""
    first = np.cumsum(lens) - lens
    return np.repeat(starts - first, lens) + np.arange(int(lens.sum()), dtype=np.int64)


# the three per-posting streams of an EncodedList: (bytes, block offsets)
_STREAMS = (("deltas", "d_off"), ("tfs", "t_off"), ("doclens", "l_off"))


def _joined(encs: list, name: str, off_name: str, bounds) -> tuple[list, np.ndarray]:
    """One stream of the lists `encs`, joined per group (the lists
    bounds[i]:bounds[i + 1]): each group's bytes concatenated, and each
    block's offset in its group's bytes (its list's block offsets shifted
    by the list's byte base in the group). A list without the stream
    (positions not read) reads as empty."""
    bufs = [getattr(e, name) for e in encs]
    lens = np.fromiter((len(b) for b in bufs), dtype=np.int64, count=len(bufs))
    base = np.cumsum(lens) - lens
    base -= np.repeat(base[bounds[:-1]], np.diff(bounds))
    nbs = [e.bmax_docid.size for e in encs]
    offs = np.concatenate([
        np.zeros(nb, dtype=np.int64) if o is None else np.asarray(o, dtype=np.int64)
        for o, nb in zip((getattr(e, off_name) for e in encs), nbs)])
    joined = [b"".join(bufs[a:b]) for a, b in zip(bounds[:-1], bounds[1:])]
    return joined, offs + np.repeat(base, nbs)


def _stream_decode(fmt: str, buf, offs: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Blocks of one stream back to back in `buf` (block i at byte offs[i],
    counts[i] values) in ONE block decode: PFor at the offsets, or one
    varbyte decode (self-delimiting, so the offsets are not needed)."""
    if fmt == FMT_PFOR:
        return pfor_decode_at(buf, offs, counts)
    return varbyte_decode(buf, int(counts.sum()))


def decode_concat(encs: list, with_positions=False):
    """The one full decode of posting lists: ``(pl, want)`` with pl's
    docids, tfs and doclens holding every list of `encs` back to back
    (list i at [s_i, s_i + n_i), s the exclusive cumsum of the n), and
    pl.positions the FLAT absolute positions of the lists with want[i]
    back to back (list i's tfs give its per-posting split), or None when
    no list has them. `with_positions` is one flag or one per list; a
    list built without positions is never in `want`.

    The lists share one codec (an index has one). Each stream of the
    lists decodes in one block decode (``_joined``, ``_stream_decode``),
    the docids in one segmented cumsum that restarts at each block from
    its delta base (``_layout``, ``_restart``), and the flagged lists'
    positions in one varbyte decode — the per-call cost is paid per
    query or batch, not per list."""
    ns = np.fromiter((e.n for e in encs), dtype=np.int64, count=len(encs))
    starts = np.cumsum(ns) - ns
    if len({e.fmt for e in encs}) > 1:
        raise ValueError("decode_concat takes lists of one codec (one index)")
    counts, bases = _layout(encs)
    deltas, tfs, doclens = (
        _stream_decode(encs[0].fmt, buf, offs, counts)
        for (buf,), offs in (_joined(encs, *st, [0, len(encs)]) for st in _STREAMS))
    docids = _restart(deltas, counts, bases)
    tfs += np.uint64(1)
    flags = (
        [bool(with_positions)] * len(encs)
        if np.ndim(with_positions) == 0 else [bool(f) for f in with_positions]
    )
    want = np.array([f and e.p_off is not None for f, e in zip(flags, encs)], dtype=bool)
    positions = None
    if want.any():
        sel = np.flatnonzero(want)
        tfs_p = tfs if want.all() else tfs[_ranges(starts[sel], ns[sel])]
        buf = b"".join(encs[i].positions for i in sel)
        positions = _abs_positions(varbyte_decode(buf, int(tfs_p.sum())), tfs_p)
    return PostingList(docids, tfs, doclens, positions), want


def decode_many(encs, with_positions=False) -> list[PostingList]:
    """Full decode of many EncodedLists in one pass (``decode_concat``):
    one PostingList per list, positions flat and absolute (None for a
    list not flagged in `with_positions` or built without positions).
    The arrays of a multi-list call are copies, not views of the batch,
    so a cached list never pins the arrays of the lists decoded with it."""
    encs = list(encs)
    if not encs:
        return []
    pl, want = decode_concat(encs, with_positions)
    if len(encs) == 1:
        return [pl]
    out, s, p = [], 0, 0
    for enc, w in zip(encs, want):
        e = s + enc.n
        positions = None
        if w:  # the flagged lists' positions lie back to back
            q = p + int(pl.tfs[s:e].sum())
            positions, p = pl.positions[p:q].copy(), q
        out.append(PostingList(pl.docids[s:e].copy(), pl.tfs[s:e].copy(),
                               pl.doclens[s:e].copy(), positions))
        s = e
    return out


def decode_postings(
    enc: EncodedList, with_positions: bool = False, flat_positions: bool = False
) -> PostingList:
    """Full decode of one list: ``decode_many([enc])`` (a MemoList
    returns its cached decode). `flat_positions=True` returns positions
    as ONE flat absolute-position array (per-posting boundaries are the
    tfs) — the kernel-friendly shape with no per-posting list
    materialization; False splits them per posting."""
    if isinstance(enc, MemoList):
        return _memo_slice_all(enc, with_positions, flat_positions)
    pl = decode_many([enc], with_positions)[0]
    if pl.positions is not None and not flat_positions:
        pl.positions = np.split(pl.positions, np.cumsum(pl.tfs.astype(np.int64))[:-1])
    return pl


def _block_bytes(buf: bytes, off, blocks: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """The bytes of the selected `blocks` of one stream (`buf`, per-block
    byte offsets `off`) back to back, in one gather, and each block's
    offset in them."""
    off = np.asarray(off, dtype=np.int64)
    size = np.append(off[1:], len(buf))[blocks] - off[blocks]
    return np.frombuffer(buf, dtype=np.uint8)[_ranges(off[blocks], size)], np.cumsum(size) - size


def decode_blocks(
    enc: EncodedList,
    blocks: np.ndarray,
    with_positions: bool = False,
    flat_positions: bool = False,
) -> PostingList:
    """Selective decode of the given (sorted, unique) block indices only —
    the skip path: O(bytes of selected blocks), not O(list length).

    Every block is independently decodable: its delta chain starts from
    its base (``_block_layout``). The selected blocks' bytes are gathered
    once per stream (``_block_bytes``), so each stream decodes in one call
    and the docids in one restarting cumsum. The positions (if present
    and requested) come from the varbyte positions stream the same way
    (p_off per block), split by the blocks' tfs.
    """
    if isinstance(enc, MemoList):
        return _memo_slice_blocks(enc, blocks, with_positions, flat_positions)
    blocks = np.asarray(blocks, dtype=np.int64)
    _, cnt, bases = _block_layout(enc, blocks)
    deltas, tfs, doclens = (
        _stream_decode(enc.fmt, *_block_bytes(getattr(enc, name), getattr(enc, off), blocks), cnt)
        for name, off in _STREAMS)
    tfs += np.uint64(1)
    pos = None
    if with_positions and enc.p_off is not None:
        buf, _ = _block_bytes(enc.positions, enc.p_off, blocks)
        flat = varbyte_decode(buf, int(tfs.sum()))
        pos = _abs_positions(flat, tfs) if flat_positions else _split_positions(flat, tfs)
    return PostingList(_restart(deltas, cnt, bases), tfs, doclens, pos)


class MemoList:
    """EncodedList facade over ONE cached full decode of the same list.

    Block metadata (n / bmax_docid / bmax_u) proxies to the encoded row,
    while decode_postings/decode_blocks return SLICES of the cached
    arrays — block b is exactly its postings of the full decode (from b *
    BLOCK, or from b_start[b] in a fused list), so every encoded kernel,
    INCLUDING its exact block-max score pruning, runs decode-free. This is the serving decoded-LRU
    representation (query/local.py): a decoded-only PostingList would
    force the kernels to score whole lists (no pruning), which breaks
    down on Zipf head terms at scale; MemoList keeps the skip structure
    and drops only the codec work. Slices are asserted array-identical
    to codec decode output (tests/test_codec.py).
    """

    __slots__ = ("enc", "pl", "_pos_off")

    def __init__(self, enc: EncodedList, pl: PostingList):
        self.enc = enc
        self.pl = pl
        self._pos_off = None

    @property
    def n(self) -> int:
        return self.enc.n

    @property
    def fmt(self) -> str:
        return self.enc.fmt

    @property
    def bmax_docid(self) -> np.ndarray:
        return self.enc.bmax_docid

    @property
    def bmax_u(self) -> np.ndarray:
        return self.enc.bmax_u

    @property
    def nbytes(self) -> int:
        """Resident size of this cache entry: encoded streams + block
        metadata + the decoded arrays (+ the lazy position-offset table,
        counted up front so eviction accounting never drifts). This is
        what a byte-budgeted serving cache charges per entry."""
        e, p = self.enc, self.pl
        b = len(e.deltas) + len(e.tfs) + len(e.doclens) + len(e.positions)
        b += e.bmax_docid.nbytes + e.bmax_u.nbytes
        b += e.d_off.nbytes + e.t_off.nbytes + e.l_off.nbytes
        if e.p_off is not None:
            b += e.p_off.nbytes
        b += p.docids.nbytes + p.tfs.nbytes + p.doclens.nbytes
        if p.positions is not None:
            b += p.positions.nbytes + 8 * (p.docids.size + 1)
        return b

    def _pos_offsets(self) -> np.ndarray:
        """Posting -> flat-position-array offset (cumsum of tfs), computed
        once per cached entry."""
        if self._pos_off is None:
            cnt = self.pl.tfs.astype(np.int64)
            off = np.zeros(cnt.size + 1, dtype=np.int64)
            np.cumsum(cnt, out=off[1:])
            self._pos_off = off
        return self._pos_off


def _memo_positions_check(ml: MemoList, with_positions: bool, flat: bool):
    if not with_positions:
        return False
    if ml.enc.p_off is None:
        return False  # index built without positions: mirror encoded path
    if ml.pl.positions is None:
        raise ValueError(
            "MemoList cached without positions but a positional decode "
            "was requested — cache the entry with positions=True"
        )
    if not flat:
        raise ValueError("MemoList serves flat positions only")
    return True


def _memo_slice_all(ml: MemoList, with_positions: bool, flat: bool) -> PostingList:
    pl = ml.pl
    if _memo_positions_check(ml, with_positions, flat):
        return pl
    return PostingList(pl.docids, pl.tfs, pl.doclens, None)


def _memo_slice_blocks(
    ml: MemoList, blocks: np.ndarray, with_positions: bool, flat: bool
) -> PostingList:
    pl = ml.pl
    want_pos = _memo_positions_check(ml, with_positions, flat)
    blocks = np.asarray(blocks, dtype=np.int64)
    s, cnt, _ = _block_layout(ml.enc, blocks)
    e = s + cnt
    at = _ranges(s, cnt)
    pos = None
    if want_pos:
        off = ml._pos_offsets()
        pos = pl.positions[_ranges(off[s], off[e] - off[s])]
    return PostingList(pl.docids[at], pl.tfs[at], pl.doclens[at], pos)
