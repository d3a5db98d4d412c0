"""Segment-splice promotion: fold a delta GENERATION INDEX into the base
index by block-granular byte concatenation — O(delta + seams) encode CPU
instead of merge_deltas' O(affected-bucket re-encode).

Why this exists (the round-6 LSM arc, third act): the measured eager
merge (`maintenance.merge_deltas`) of a 10% delta costs ~1.5× the FULL
build — its STAGE phase shuffles + re-sorts every affected bucket's
occurrence rows and its ENCODE phase re-encodes every affected posting
list from scratch. `query.generations.GenerationSet` already makes delta
INGEST O(delta): build a small standalone index over just the new docs
and serve base+delta unioned, bit-exactly. This module closes the loop:
when the generation count / delta ratio crosses policy, PROMOTE the
generation into the base without re-encoding the base.

The splice (what Lucene calls a segment merge, done at codec-block
granularity): per (term, shard) posting list,

- every FULL base block passes through **byte-identical** — the posting
  codec (index/codec.py) makes block b's delta chain base
  ``bmax_docid[b-1]``, block byte ranges self-contained for BOTH stream
  codecs (varbyte groups and per-block PFor packs), and the block score
  bound ``bmax_u`` stats-independent (bm25_u_bound), so appending
  postings after a block changes nothing about it;
- delta postings all sort AFTER base postings: the delta docmap's dense
  per-shard lids are offset by ``base_max_lid(shard)+1``
  (docmap.append_local_ids semantics — base lists never shift);
- only the SEAM re-encodes: the base's trailing partial block (< BLOCK
  postings) plus the delta list, chained off the last kept block via
  ``encode_postings(prev_docid=...)``. When the base list ends exactly on
  a block boundary and both rows share a codec, even that collapses to
  re-encoding ONE varbyte/PFor block (the delta list's first delta
  becomes relative to the base's last docid);
- lists only in the base pass through whole; lists only in the delta
  re-encode just their first block (first delta += lid offset).

Exactness: the promoted index is query-for-query bit-identical to an
index built from scratch over the union corpus — BM25 inputs (tf,
doclen, df, N, avgdl) are all preserved or exactly summed (disjoint
docids ⇒ df adds; n_docs/avgdl from exact integer doclen sums over both
docmaps), and kernels are exact under any lid assignment
(query/wand.py boundary-tie contract). Pinned in tests/test_promote.py.

Segments are the one durable copy of the postings: a generation keeps
no occurrence rows once it is finalized, and promotion writes none.
The spliced segment rows are all a later merge_deltas or compact needs:
merge decodes them; compact decodes their docids and re-encodes only
the lists that hold a dead key. The splicer reads both sides' rows as
Arrow (``segments.enc_from_arrow``) and emits the spliced lists through
``segments.arrow_from_encs``; no row becomes a Python dict.

Scope: the delta's docids must be DISJOINT from the base's (the
append-only web-crawl case). Re-ingested documents need posting
deletion inside base lists — that is merge_deltas' job (newest-wins
upsert) or GenerationSet's query-time shadowing; promote refuses loudly.

At 100 TB: promotion reads+rewrites the affected buckets' segment BYTES
(compressed, ~2.4 B/posting — an IO-bound streaming pass distributed one
bucket per task) but its encode CPU is O(delta + one seam block per
touched list); no raw occurrence row (~10× the segment bytes) is
shuffled, written or read. Parity with
the reference's ingest-visibility contract (backend/app/worker/tasks.py
indexes per-upload batches; Postgres GIN maintains its index
incrementally) — this is the Spark-native equivalent of that incremental
path, with Lucene-style generational semantics.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
from pyspark.sql import SparkSession, functions as F

from honeywell_search_engine_spark.index import codec
from honeywell_search_engine_spark.index.codec import BLOCK, EncodedList
from honeywell_search_engine_spark.index.maintenance import (
    _commit_stats,
    _repair_dir_swaps,
    _swap_bucket_dir,
)
from honeywell_search_engine_spark.index.segments import (
    PA_SEGMENT_SCHEMA,
    SEGMENT_SCHEMA,
    _invalidate_buckets,
    _read_manifest,
    _write_manifest,
    arrow_from_encs,
    bucket_checksums,
    build_segments,
    enc_from_arrow,
    encode_pending_buckets,
    input_fingerprint,
    load_tombstones,
    write_segments,
)

__all__ = [
    "build_generation",
    "build_generation_from_delta",
    "promote_generation",
    "should_promote",
    "splice_encoded",
]


# --------------------------------------------------------------------------
# pure splice kernel (unit-tested directly in tests/test_promote.py)
# --------------------------------------------------------------------------


def _stream_codecs(fmt: str):
    if fmt == codec.FMT_PFOR:
        return codec.pfor_encode, codec.pfor_decode
    return codec.varbyte_encode, codec.varbyte_decode


def _patch_first_delta(enc: EncodedList, add: int) -> tuple[bytes, int]:
    """Re-encode ONLY block 0 of `enc`'s delta stream with its first value
    increased by `add`. Returns (new_block0_bytes, old_block0_byte_len)."""
    enc_s, dec_s = _stream_codecs(enc.fmt)
    nb0 = min(BLOCK, enc.n)
    end = int(enc.d_off[1]) if enc.bmax_docid.size > 1 else len(enc.deltas)
    d = np.asarray(dec_s(enc.deltas[:end], nb0), dtype=np.uint64)
    d[0] += np.uint64(add)
    new0, _ = enc_s(d, block=BLOCK)
    return new0, end


def _check_positions(base: EncodedList | None, delta: EncodedList | None):
    sides = [e for e in (base, delta) if e is not None]
    has = {e.p_off is not None for e in sides}
    if len(has) > 1:
        raise ValueError("cannot splice a positional list with a non-positional one")
    return has.pop()


def splice_encoded(
    base: EncodedList | None, delta: EncodedList | None, lid_offset: int
) -> EncodedList:
    """Concatenate two encoded posting lists of the same (term, shard) —
    `delta`'s docids (shard-local lids) shifted by `lid_offset`, which must
    exceed every base docid. Full base blocks pass through byte-identical;
    see the module docstring for the seam cases. The result decodes
    exactly like ``encode_postings`` over the concatenated raw arrays
    (property-pinned in tests). ``splice_many`` of one triple."""
    return splice_many([(base, delta, lid_offset)])[0]


def splice_many(items) -> list[EncodedList]:
    """``splice_encoded`` of every (base, delta, lid_offset) triple of
    `items`, with the decodes of all their general seams (each base's
    trailing partial block and each delta list) in one
    ``codec.decode_many`` call per codec: a promotion pays the per-call
    decode cost per batch of spliced lists, not twice per list."""
    out: list[EncodedList | None] = []
    seams = []  # (item index, base, delta, offset, positions) of general seams
    for base, delta, off in items:
        enc = _splice_direct(base, delta, int(off))
        if enc is None:
            seams.append((len(out), base, delta, int(off), _check_positions(base, delta)))
        out.append(enc)
    # each seam decodes its base's tail block (if any), then its delta
    parts = []
    for _, base, delta, _, has_pos in seams:
        if base.n % BLOCK:
            parts.append((_tail_block(base), has_pos))
        parts.append((delta, has_pos))
    pls: list = [None] * len(parts)
    for fmt in {e.fmt for e, _ in parts}:  # decode_many takes one codec
        sel = [j for j, (e, _) in enumerate(parts) if e.fmt == fmt]
        decoded = codec.decode_many([parts[j][0] for j in sel], [parts[j][1] for j in sel])
        for j, pl in zip(sel, decoded):
            pls[j] = pl
    it = iter(pls)
    for i, base, _, off, has_pos in seams:
        tail = next(it) if base.n % BLOCK else None
        out[i] = _splice_seam(base, tail, next(it), off, has_pos)
    return out


def _splice_direct(
    base: EncodedList | None, delta: EncodedList | None, off: int
) -> EncodedList | None:
    """The splice of the cases that decode no posting — no delta, no
    base, or a base ending on a block boundary with the delta's codec —
    or None for a general seam (``_splice_seam``). ValueError when `off`
    does not clear the base list."""
    if delta is None:
        assert base is not None
        return base
    has_pos = _check_positions(base, delta)

    if base is None:
        # delta-only term: first delta is the absolute first docid — add
        # the offset to it, re-encoding block 0 alone.
        new0, old_end = _patch_first_delta(delta, off)
        d_off = delta.d_off.copy()
        d_off[1:] += len(new0) - old_end
        return EncodedList(
            n=delta.n,
            bmax_docid=delta.bmax_docid + np.int64(off),
            bmax_u=delta.bmax_u,
            d_off=d_off,
            t_off=delta.t_off,
            l_off=delta.l_off,
            deltas=new0 + delta.deltas[old_end:],
            tfs=delta.tfs,
            doclens=delta.doclens,
            positions=delta.positions,
            p_off=delta.p_off,
            fmt=delta.fmt,
        )

    base_last = int(base.bmax_docid[-1])
    if off <= base_last:
        raise ValueError(
            f"lid offset {off} does not clear the base list (last docid "
            f"{base_last}) — generations must append, never interleave"
        )
    if base.n % BLOCK or base.fmt != delta.fmt:
        return None

    # seam-free: base ends on a block boundary and codecs agree — the
    # ONLY bytes that change in either list are delta's block 0 of the
    # delta stream (its first value becomes relative to base_last).
    new0, old_end = _patch_first_delta(delta, off - base_last)
    app_d_off = delta.d_off + np.int64(len(base.deltas))
    app_d_off[1:] += len(new0) - old_end
    pos, p_off = base.positions, base.p_off
    if has_pos:
        pos = base.positions + delta.positions
        p_off = np.concatenate(
            [base.p_off, delta.p_off + np.int64(len(base.positions))]
        )
    return EncodedList(
        n=base.n + delta.n,
        bmax_docid=np.concatenate(
            [base.bmax_docid, delta.bmax_docid + np.int64(off)]
        ),
        bmax_u=np.concatenate([base.bmax_u, delta.bmax_u]),
        d_off=np.concatenate([base.d_off, app_d_off]),
        t_off=np.concatenate(
            [base.t_off, delta.t_off + np.int64(len(base.tfs))]
        ),
        l_off=np.concatenate(
            [base.l_off, delta.l_off + np.int64(len(base.doclens))]
        ),
        deltas=base.deltas + new0 + delta.deltas[old_end:],
        tfs=base.tfs + delta.tfs,
        doclens=base.doclens + delta.doclens,
        positions=pos,
        p_off=p_off,
        fmt=base.fmt,
    )


def _tail_block(base: EncodedList) -> EncodedList:
    """The trailing partial block of `base` (one shard's list whose n is
    not a multiple of BLOCK) as a one-block list of its own: its bytes,
    and its delta chain starting from the last kept block's docid."""
    nfull = base.n // BLOCK
    zero = np.zeros(1, dtype=np.int64)
    has_pos = base.p_off is not None
    return EncodedList(
        n=base.n - nfull * BLOCK,
        bmax_docid=base.bmax_docid[nfull:],
        bmax_u=base.bmax_u[nfull:],
        d_off=zero, t_off=zero, l_off=zero,
        deltas=base.deltas[int(base.d_off[nfull]):],
        tfs=base.tfs[int(base.t_off[nfull]):],
        doclens=base.doclens[int(base.l_off[nfull]):],
        positions=base.positions[int(base.p_off[nfull]):] if has_pos else b"",
        p_off=zero if has_pos else None,
        fmt=base.fmt,
        b_start=np.array([0, base.n - nfull * BLOCK], dtype=np.int64),
        b_base=np.array([base.bmax_docid[nfull - 1] if nfull else 0], dtype=np.uint64),
    )


def _splice_seam(
    base: EncodedList, tail, dl, off: int, has_pos: bool
) -> EncodedList:
    """The general seam: keep base's full blocks, and re-encode the
    appendix — its decoded trailing partial block `tail` (None when base
    ends on a block boundary) then the decoded delta list `dl`, shifted
    by `off` — in the base's codec, chained off the last kept block."""
    nfull = base.n // BLOCK
    d_docids = dl.docids + np.uint64(off)
    if tail is not None:
        docids = np.concatenate([tail.docids, d_docids])
        tfs = np.concatenate([tail.tfs, dl.tfs])
        doclens = np.concatenate([tail.doclens, dl.doclens])
        positions = (
            np.concatenate([tail.positions, dl.positions]) if has_pos else None
        )
    else:
        docids, tfs, doclens = d_docids, dl.tfs, dl.doclens
        positions = dl.positions if has_pos else None
    prev = int(base.bmax_docid[nfull - 1]) if nfull > 0 else 0
    app = codec.encode_postings(
        docids, tfs, doclens, positions=positions, fmt=base.fmt,
        prev_docid=prev,
    )
    nblocks_b = base.bmax_docid.size
    d_end = int(base.d_off[nfull]) if nfull < nblocks_b else len(base.deltas)
    t_end = int(base.t_off[nfull]) if nfull < nblocks_b else len(base.tfs)
    l_end = int(base.l_off[nfull]) if nfull < nblocks_b else len(base.doclens)
    pos, p_off = base.positions, base.p_off
    if has_pos:
        p_end = (
            int(base.p_off[nfull]) if nfull < nblocks_b else len(base.positions)
        )
        pos = base.positions[:p_end] + app.positions
        p_off = np.concatenate([base.p_off[:nfull], app.p_off + np.int64(p_end)])
    return EncodedList(
        n=base.n + dl.n,
        bmax_docid=np.concatenate([base.bmax_docid[:nfull], app.bmax_docid]),
        bmax_u=np.concatenate([base.bmax_u[:nfull], app.bmax_u]),
        d_off=np.concatenate([base.d_off[:nfull], app.d_off + np.int64(d_end)]),
        t_off=np.concatenate([base.t_off[:nfull], app.t_off + np.int64(t_end)]),
        l_off=np.concatenate([base.l_off[:nfull], app.l_off + np.int64(l_end)]),
        deltas=base.deltas[:d_end] + app.deltas,
        tfs=base.tfs[:t_end] + app.tfs,
        doclens=base.doclens[:l_end] + app.doclens,
        positions=pos,
        p_off=p_off,
        fmt=base.fmt,
    )

# --------------------------------------------------------------------------
# row-level splice + the per-bucket Spark kernel
# --------------------------------------------------------------------------


def _splice_rows(outs: list, ctfs: list, chains: list) -> tuple[list, list]:
    """Chain-splice each base list of `outs` (None for a term the base
    lacks; its ctf in `ctfs`, 0 for None) with its chain, one (list, ctf,
    lid offset) per generation holding it, oldest → newest. Function
    composition of splice_encoded — byte-identical to promoting the
    generations sequentially (each later splice sees exactly the encoded
    list the previous one produced) — taken one generation step at a
    time over all the lists, so each step is one ``splice_many``.
    Returns the spliced lists and their ctfs."""
    outs, ctfs = list(outs), list(ctfs)
    for j in range(max(map(len, chains), default=0)):
        idx = [i for i, c in enumerate(chains) if j < len(c)]
        items = [(outs[i], chains[i][j][0], chains[i][j][2]) for i in idx]
        for i, enc in zip(idx, splice_many(items)):
            outs[i] = enc
            ctfs[i] += chains[i][j][1]
    return outs, ctfs


def _make_bucket_splicer(
    index_dir: str, deltas: list[tuple[str, dict[int, int]]]
):
    """mapInArrow kernel: one task per bucket id, direct pyarrow reads of
    the indexes' bucket files (the same executor-local read doctrine as
    ServingIndex — on a cluster these paths are shared storage). Emits the
    spliced bucket's full segment rows; Spark's committer makes the staged
    write atomic. Bucket = task granularity; a hot bucket can be split by
    shard with the same kernel if it ever dominates.

    `deltas` is a list of (generation dir, per-shard lid offsets) ordered
    oldest → newest — K generations fold in ONE base pass (r7, round-6
    verdict #6): each (term, shard) list chain-splices through every
    generation holding it, byte-identical to K sequential promotions
    (the offsets are the exact lids each sequential step would assign).

    Rows stay Arrow end to end: both sides' lists come from their columns
    (``enc_from_arrow``) and the spliced ones leave through
    ``arrow_from_encs``; no row becomes a Python dict.

    Memory shape: the BASE side streams batch-by-batch (a bucket's segment
    payload can be GBs at 10^12 docs and must never materialize whole);
    only the DELTA sides — delta-sized by definition — are held in
    memory, each as its Arrow table's lists with a (term, shard) -> row
    map whose matched entries are popped as the base stream passes
    them."""

    def splice_bucket(batches):
        import pyarrow as pa
        import pyarrow.dataset as ds

        def _with_bucket(base_batch, b):
            """Base batch -> output batch WITHOUT a Python round-trip: the
            file columns stay zero-copy Arrow arrays; only the constant
            bucket partition column is appended. Unmatched rows are the
            overwhelming majority of every bucket, so this is the hot
            path of the whole promotion."""
            cols = [
                base_batch.column(f.name)
                for f in PA_SEGMENT_SCHEMA
                if f.name != "bucket"
            ]
            cols.append(
                pa.array([int(b)] * base_batch.num_rows, type=pa.int32())
            )
            return pa.RecordBatch.from_arrays(cols, schema=PA_SEGMENT_SCHEMA)

        def _keys(tbl):
            return list(zip(tbl.column("term").to_pylist(), tbl.column("shard").to_pylist()))

        for batch in batches:
            for b in batch.column("bucket").to_pylist():
                base_p = f"{index_dir}/segments/bucket={b}"
                gens = []  # per generation: ((term, shard) -> row, lists, ctfs, offsets)
                for delta_dir, offs in deltas:
                    delta_p = f"{delta_dir}/segments/bucket={b}"
                    if not os.path.isdir(delta_p):
                        continue  # this generation has no rows here
                    dt = ds.dataset(delta_p, format="parquet").to_table()
                    rows = {k: i for i, k in enumerate(_keys(dt))}
                    gens.append((rows, enc_from_arrow(dt), dt.column("ctf").to_pylist(), offs))

                def _spliced(keys, base_encs, base_ctfs):
                    """The segment rows of the (term, shard) `keys`: each
                    base list (None if absent) spliced with the rows the
                    generations hold for its key."""
                    chains = []
                    for key in keys:
                        chain = []
                        for rows, encs, ctfs, offs in gens:
                            i = rows.pop(key, None)
                            if i is not None:
                                chain.append((encs[i], ctfs[i], offs[int(key[1])]))
                        chains.append(chain)
                    out, ctf = _splice_rows(base_encs, base_ctfs, chains)
                    return arrow_from_encs(out, [k[0] for k in keys], [k[1] for k in keys],
                                           ctf, [b] * len(keys))

                if os.path.isdir(base_p):
                    scanner = ds.dataset(base_p, format="parquet").scanner(
                        batch_size=1024
                    )
                    for base_batch in scanner.to_batches():
                        keys = _keys(base_batch)
                        hit = [
                            i
                            for i, k in enumerate(keys)
                            if any(k in rows for rows, *_ in gens)
                        ]
                        if not hit:
                            yield _with_bucket(base_batch, b)
                            continue
                        hitset = set(hit)
                        miss = [i for i in range(len(keys)) if i not in hitset]
                        if miss:
                            yield _with_bucket(base_batch.take(pa.array(miss)), b)
                        hb = base_batch.take(pa.array(hit))
                        yield _spliced([keys[i] for i in hit], enc_from_arrow(hb),
                                       hb.column("ctf").to_pylist())
                # generation-only terms (absent from the base), oldest
                # generation's row leads each chain
                rest = sorted({k for rows, *_ in gens for k in rows})
                for i in range(0, len(rest), 1024):
                    ks = rest[i : i + 1024]
                    yield _spliced(ks, [None] * len(ks), [0] * len(ks))

    return splice_bucket


# --------------------------------------------------------------------------
# promotion state (manifests/promote_state.json — the merge_state pattern)
# --------------------------------------------------------------------------


def _state_path(index_dir: str) -> str:
    return os.path.join(index_dir, "manifests", "promote_state.json")


def _read_promote_state(index_dir: str) -> dict:
    p = _state_path(index_dir)
    if os.path.exists(p):
        with open(p) as f:
            return json.load(f)
    return {"promoted": {}, "inflight": None}


def _write_promote_state(index_dir: str, state: dict) -> None:
    os.makedirs(os.path.dirname(_state_path(index_dir)), exist_ok=True)
    tmp = _state_path(index_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(state, f)
    os.replace(tmp, _state_path(index_dir))


def _base_epoch(spark: SparkSession, index_dir: str) -> str:
    """Cheap identity of the base's document state: docmap file listing +
    stats.json content. Every operation whose completion would invalidate
    a staged promotion (merge_deltas, compact, another promotion) rewrites
    or appends to the docmap AND rewrites stats.json; tombstone-only
    changes (delete_docs) keep the epoch — staged splices don't embed
    tombstones, kernels read dead lists at query time."""
    import zlib

    with open(f"{index_dir}/stats.json", "rb") as f:
        sj = zlib.crc32(f.read())
    return f"{input_fingerprint(spark, f'{index_dir}/docmap')}|{sj:08x}"


def _offsets_map_expr(offs: dict[int, int]):
    return F.create_map(
        *[F.lit(int(v)) for kv in sorted(offs.items()) for v in kv]
    )


#: above this shard count the per-shard lid offsets ride a broadcast join
#: instead of a literal CASE/map expression — a 4k+-entry Catalyst literal
#: map bloats the plan (analysis cost is per-query, the expression tree is
#: O(n_shards)) while a broadcast hash join stays O(1) in plan size
#: (round-6 verdict residual #5). Overridable for tests.
OFFSETS_MAP_MAX = 4096


def _apply_lid_offsets(spark, df, offs: dict[int, int], col: str):
    """df[col] += offs[shard], preserving column order. Literal-map
    expression for small shard counts; broadcast join above
    OFFSETS_MAP_MAX."""
    if len(offs) <= OFFSETS_MAP_MAX:
        m = _offsets_map_expr(offs)
        return df.withColumn(col, (F.col(col) + m[F.col("shard")]).cast("long"))
    cols = df.columns
    odf = spark.createDataFrame(
        sorted((int(s), int(v)) for s, v in offs.items()),
        "shard int, _off long",
    )
    return (
        df.join(F.broadcast(odf), "shard")
        .withColumn(col, (F.col(col) + F.col("_off")).cast("long"))
        .select(*cols)
    )


def should_promote(
    base_dir: str,
    generation_dirs: list[str],
    max_generations: int = 3,
    max_delta_ratio: float = 0.2,
) -> bool:
    """Tiered-compaction policy: promote when the generation COUNT exceeds
    `max_generations` (each generation adds one merge leg to every serving
    query) or the generations' combined doc count exceeds
    `max_delta_ratio` of the base (per-query overhead is roughly linear in
    the delta fraction). Pure stats.json reads — callable from any node."""
    if not generation_dirs:
        return False
    if len(generation_dirs) > max_generations:
        return True

    def _n(p):
        with open(f"{p}/stats.json") as f:
            return json.load(f)["n_docs"]

    base_n = _n(base_dir)
    return sum(_n(g) for g in generation_dirs) > max_delta_ratio * max(base_n, 1)


# --------------------------------------------------------------------------
# the promotion itself
# --------------------------------------------------------------------------


def promote_generation(
    spark: SparkSession,
    index_dir: str,
    delta_index_dir: str | list[str],
    _fail_at: str | None = None,
) -> dict:
    """Fold the generation index(es) at `delta_index_dir` — one path or a
    list ordered OLDEST → NEWEST — into `index_dir` via the segment splice
    (module docstring). Requirements: same n_shards / n_buckets / stemmed
    flag, every generation finalized and tombstone-free, and the
    generations' docids DISJOINT from the base's and from each other
    (append-only ingest; re-crawls go through merge_deltas' upsert or
    GenerationSet shadowing instead).

    A LIST folds K generations in ONE base pass (r7, round-6 verdict #6):
    per (term, shard) list the chain of generation rows splices
    sequentially with the exact lid offsets K separate promotions would
    assign, so the result is bit-identical to the sequential chain
    (pinned in test_one_pass_multi_generation_promote) at 1/K of the
    fixed per-promotion Spark jobs and ONE read+rewrite of each affected
    base bucket instead of K.

    Idempotent per generation (fingerprint registry — already-promoted
    generations in the list are skipped) and crash-safe under the same
    journal discipline as merge_deltas: STAGE writes everything next
    to the live index without touching it; COMMIT journals 'committing',
    invalidates manifests (readers refuse rather than trust stale
    metadata), then swaps segment bucket dirs and hard-appends the
    journaled docmap files under deterministic names; FINALIZE
    recomputes bucket checksums and term_stats. Re-running after a crash
    at any point converges (tests/test_promote.py kill-point tests).
    `_fail_at` is the test-only injection hook ("staged" | "committing" |
    "invalidated" | "mid_swap" | "committed_files" | "swapped")."""
    def _boom(point: str) -> None:
        if _fail_at == point:
            raise RuntimeError(f"injected failure at {point}")

    delta_dirs = (
        [delta_index_dir]
        if isinstance(delta_index_dir, str)
        else [str(p) for p in delta_index_dir]
    )
    if not delta_dirs:
        raise ValueError("promote_generation needs at least one generation")

    _repair_dir_swaps(index_dir)
    with open(f"{index_dir}/stats.json") as f:
        meta = json.load(f)
    for d in delta_dirs:
        with open(f"{d}/stats.json") as f:
            dmeta = json.load(f)
        for k in ("n_shards", "n_buckets", "stemmed"):
            if meta.get(k) != dmeta.get(k):
                raise ValueError(
                    f"generation layout mismatch on {k}: "
                    f"base={meta.get(k)} delta={dmeta.get(k)}"
                )
        fin = _read_manifest(d, "finalize.json")
        if not fin or fin.get("status") != "complete":
            raise ValueError(f"generation at {d} is not finalized")
        if load_tombstones(d):
            raise ValueError(
                f"generation at {d} carries tombstones — "
                "compact it before promoting"
            )
    # maintenance ops on one index are externally serialized; still refuse
    # the detectable races — an unfinished merge or a staged compaction
    # owns the same segment/docmap dirs this promotion would swap
    ms = _read_manifest(index_dir, "merge_state.json") or {}
    if ms.get("inflight"):
        raise ValueError(
            f"a merge of {ms['inflight'].get('delta_dir')} is in flight on "
            f"{index_dir} — finish it (re-run merge_deltas) before promoting"
        )
    cs = _read_manifest(index_dir, "compact_state.json")
    if cs and cs.get("status") == "staged":
        raise ValueError(
            f"a staged compaction is pending on {index_dir} — finish it "
            "(re-run compact) before promoting"
        )

    fps = {d: input_fingerprint(spark, f"{d}/segments") for d in delta_dirs}
    state = _read_promote_state(index_dir)
    inflight = state.get("inflight")
    # idempotency per generation: already-promoted members are skipped
    # (unconditional, so a resume with the same argument reconstructs the
    # same filtered list and matches the inflight fingerprint)
    delta_dirs = [d for d in delta_dirs if fps[d] not in state["promoted"]]
    if not delta_dirs:
        return {
            "docs_added": 0,
            "affected_buckets": 0,
            "n_docs": meta["n_docs"],
        }
    fp = "+".join(fps[d] for d in delta_dirs)
    if inflight and inflight.get("fp") != fp:
        raise ValueError(
            f"promotion of {inflight.get('delta_index_dir')} is in flight; "
            "re-run it first"
        )

    staged_seg = f"{index_dir}/segments_promoted"
    staged_dm = f"{index_dir}/promote_staged_docmap"

    # a staged promotion's artifacts embed the base as it was at STAGE
    # time (lid offsets, spliced bytes, stats sums). If a merge/compact
    # completed between the crash and this resume, committing them would
    # clobber that work — detect via the base epoch journaled at STAGE
    # and restage from scratch instead.
    if inflight and inflight["status"] == "staged":
        if inflight.get("base_epoch") != _base_epoch(spark, index_dir):
            shutil.rmtree(staged_seg, ignore_errors=True)
            shutil.rmtree(staged_dm, ignore_errors=True)
            inflight["status"] = "staging"
            _write_promote_state(index_dir, state)

    # ---- STAGE ------------------------------------------------------------
    if inflight is None or inflight["status"] == "staging":
        # validate BEFORE journaling: a doomed generation (overlapping
        # docids) must not leave an un-completable inflight record that
        # wedges every later promotion behind it
        base_dm = spark.read.parquet(f"{index_dir}/docmap")
        gen_dms = [spark.read.parquet(f"{d}/docmap") for d in delta_dirs]
        deltas_ids = None
        for dm in gen_dms:
            t = dm.select("docid")
            deltas_ids = t if deltas_ids is None else deltas_ids.unionByName(t)
        ov = (
            base_dm.select("docid")
            .join(deltas_ids, "docid")
            .limit(1)
            .collect()
        )
        if ov:
            if inflight is not None:  # doomed record from an older version
                state["inflight"] = None
                _write_promote_state(index_dir, state)
            raise ValueError(
                f"docids exist in both indexes (e.g. {int(ov[0]['docid'])})"
                " — promotion is append-only; use merge_deltas (upsert) or"
                " GenerationSet (shadowed serving)"
            )
        if len(delta_dirs) > 1:
            dup = (
                deltas_ids.groupBy("docid")
                .agg(F.count(F.lit(1)).alias("c"))
                .filter(F.col("c") > 1)
                .limit(1)
                .collect()
            )
            if dup:
                if inflight is not None:
                    state["inflight"] = None
                    _write_promote_state(index_dir, state)
                raise ValueError(
                    f"docid {int(dup[0]['docid'])} exists in more than one "
                    "generation — re-ingests go through merge_deltas "
                    "(upsert) or GenerationSet (shadowed serving)"
                )
        state["inflight"] = inflight = {
            "status": "staging",
            "fp": fp,
            "delta_index_dir": (
                delta_dirs[0] if len(delta_dirs) == 1 else delta_dirs
            ),
            "base_epoch": _base_epoch(spark, index_dir),
        }
        _write_promote_state(index_dir, state)

        # exact logical stats and per-shard lid offsets — ONE fused Spark
        # job over the union of all K+1 docmaps (r7; was 3 jobs per
        # generation: base max-lid, base Σdoclen, delta count+Σdoclen —
        # each a fixed scheduling cost). The driver sees only
        # (K+1)×n_shards aggregate rows, never a docmap materialization
        # (at 10^12 docs the docmap itself is TB-scale).
        udm = base_dm.select(
            F.lit(0).alias("_src"), "shard", "local_id", "doclen"
        )
        for i, dm in enumerate(gen_dms):
            udm = udm.unionByName(
                dm.select(
                    F.lit(i + 1).alias("_src"), "shard", "local_id", "doclen"
                )
            )
        agg_rows = (
            udm.groupBy("_src", "shard")
            .agg(
                F.max("local_id").alias("mx"),
                F.count(F.lit(1)).alias("n"),
                F.sum("doclen").alias("s"),
            )
            .collect()
        )
        base_off: dict[int, int] = {
            s: 0 for s in range(int(meta["n_shards"]))
        }
        gen_mx: list[dict[int, int]] = [{} for _ in delta_dirs]
        n_per_gen = [0] * len(delta_dirs)
        base_sum = delta_sum = 0
        for r in agg_rows:
            src = int(r["_src"])
            if src == 0:
                base_off[int(r["shard"])] = int(r["mx"]) + 1
                base_sum += int(r["s"] or 0)
            else:
                gen_mx[src - 1][int(r["shard"])] = int(r["mx"])
                n_per_gen[src - 1] += int(r["n"])
                delta_sum += int(r["s"] or 0)
        # offsets per generation = exactly the next-free lid a SEQUENTIAL
        # promotion chain would hand it (base, then each older generation's
        # appended range)
        offs_list: list[dict[int, int]] = []
        run = dict(base_off)
        for i in range(len(delta_dirs)):
            offs_list.append(dict(run))
            for shard, m in gen_mx[i].items():
                run[shard] = run[shard] + m + 1
        n_delta = sum(n_per_gen)
        n_new = int(meta["n_docs"]) + n_delta
        sum_dl = base_sum + delta_sum
        avgdl_new = sum_dl / n_new if n_new else 0.0
        affected = sorted(
            {
                int(e.split("=", 1)[1])
                for d in delta_dirs
                for e in os.listdir(f"{d}/segments")
                if e.startswith("bucket=")
            }
        )

        # spliced segments: one Spark task per affected bucket, ALL
        # generations folded in this single base pass
        shutil.rmtree(staged_seg, ignore_errors=True)
        bdf = spark.createDataFrame(
            [(int(b),) for b in affected], "bucket int"
        ).repartition(len(affected), "bucket")
        write_segments(
            bdf.mapInArrow(
                _make_bucket_splicer(
                    index_dir, list(zip(delta_dirs, offs_list))
                ),
                schema=SEGMENT_SCHEMA,
            ),
            staged_seg,
        )

        # delta-side docmap rows, rewritten into the base lid space
        # (O(Σdelta)); base files are never read or copied
        dm_u = None
        for d, offs_i in zip(delta_dirs, offs_list):
            m = _apply_lid_offsets(
                spark, spark.read.parquet(f"{d}/docmap"), offs_i, "local_id"
            )
            dm_u = m if dm_u is None else dm_u.unionByName(m)
        dm_u.coalesce(1).write.mode("overwrite").parquet(staged_dm)
        dm_files = sorted(
            fn for fn in os.listdir(staged_dm) if fn.endswith(".parquet")
        )
        inflight.update(
            {
                "status": "staged",
                "affected": affected,
                "docs_added": n_delta,
                "docs_per_gen": n_per_gen,
                "n_docs": n_new,
                "avgdl": avgdl_new,
                "sum_doclen": sum_dl,
                "dm_files": dm_files,
            }
        )
        _write_promote_state(index_dir, state)
    _boom("staged")

    # ---- COMMIT -----------------------------------------------------------
    if inflight["status"] in ("staged", "committing"):
        if inflight["status"] == "staged":
            # Point of no return: the base mutates from here on (manifest
            # removal, bucket swaps, docmap renames, stats.json), and
            # any of those changes the base epoch. Journal 'committing'
            # FIRST so a crash inside the window resumes the commit below —
            # the epoch-mismatch restage above applies only to a PRE-commit
            # 'staged' record. Without this, a crash between the first
            # rename and the 'swapped' journal line left status='staged'
            # with a changed epoch: the restage rmtree'd the staged dirs
            # (destroying un-renamed docmap files) and the overlap
            # validation then refused the promotion's own half-commit,
            # permanently wedging it (round-6 advice, high).
            inflight["status"] = "committing"
            _write_promote_state(index_dir, state)
        _boom("committing")
        affected = inflight["affected"]
        _invalidate_buckets(index_dir, affected)
        _boom("invalidated")
        for i, b in enumerate(affected):
            _swap_bucket_dir(
                f"{index_dir}/segments/bucket={b}", f"{staged_seg}/bucket={b}"
            )
            if i == 0:
                _boom("mid_swap")
        # hard-append the journaled docmap files under deterministic
        # names: a re-run after a crash skips what landed
        fp8 = fp.replace(":", "")[:8]
        for fn in inflight["dm_files"]:
            dst = os.path.join(f"{index_dir}/docmap", f"promote-{fp8}-{fn}")
            src = os.path.join(staged_dm, fn)
            if not os.path.exists(dst):
                os.rename(src, dst)
        # the r6-advice window: docmap renamed, stats/state not yet written
        _boom("committed_files")
        shutil.rmtree(staged_seg, ignore_errors=True)
        shutil.rmtree(staged_dm, ignore_errors=True)
        _commit_stats(index_dir, meta, inflight)
        inflight["status"] = "swapped"
        _write_promote_state(index_dir, state)
    _boom("swapped")

    # ---- FINALIZE -----------------------------------------------------------
    affected = inflight["affected"]
    chks = bucket_checksums(spark, f"{index_dir}/segments", affected)
    for b in affected:
        _write_manifest(
            index_dir,
            f"bucket_{b}.json",
            {
                "status": "complete",
                "bucket": b,
                "input_fingerprint": fp,
                "promoted": True,
                **chks[b],
            },
        )
    # all bucket manifests are complete again, so this only re-derives
    # term_stats/idf from segment metadata under the new n_docs — df(t)
    # sums exactly across disjoint generations
    encode_pending_buckets(spark, index_dir, fp)
    per_gen = inflight.get("docs_per_gen") or [inflight["docs_added"]]
    for d, n in zip(delta_dirs, per_gen):
        state["promoted"][fps[d]] = {
            "delta_index_dir": d,
            "docs_added": int(n),
        }
    result = {
        "docs_added": inflight["docs_added"],
        "affected_buckets": len(affected),
        "n_docs": inflight["n_docs"],
    }
    state["inflight"] = None
    _write_promote_state(index_dir, state)
    return result


def build_generation(
    spark: SparkSession,
    pages_path: str,
    out_dir: str,
    base_index_dir: str,
    lang: str = "en",
    from_html: bool = False,
) -> dict:
    """Build a delta GENERATION INDEX over `pages_path` with the layout
    (n_buckets / n_shards / stemmed / codec) copied from the base index —
    the shape GenerationSet can serve and promote_generation can fold in.
    One thin guard around build_segments so a generation can never be
    built with mismatched moduli. Returns the base layout used."""
    from honeywell_search_engine_spark.index.corpus import (
        docs_from_pages,
        extracted_docs_from_pages,
        tokenized_docs,
    )
    from honeywell_search_engine_spark.sources.pages import read_pages

    with open(f"{base_index_dir}/stats.json") as f:
        meta = json.load(f)
    pages = read_pages(spark, pages_path)
    docs = (
        extracted_docs_from_pages(pages, lang)
        if from_html
        else docs_from_pages(pages, lang)
    )
    build_segments(
        tokenized_docs(docs, stem=bool(meta.get("stemmed", False))),
        out_dir,
        pages_path,
        n_buckets=int(meta["n_buckets"]),
        n_shards=int(meta["n_shards"]),
        stemmed=bool(meta.get("stemmed", False)),
        codec_fmt=meta.get("codec", codec.FMT_VB),
    )
    return {
        "n_buckets": int(meta["n_buckets"]),
        "n_shards": int(meta["n_shards"]),
        "stemmed": bool(meta.get("stemmed", False)),
        "codec": meta.get("codec", codec.FMT_VB),
    }


def build_generation_from_delta(
    spark: SparkSession,
    delta_dir: str,
    out_dir: str,
    base_index_dir: str,
    batch_ids: list[int] | None = None,
) -> dict:
    """Build a generation INDEX directly from streamed occurrence deltas
    (streaming/ingest.stream_postings_delta) — no page re-read, no
    re-tokenize. This closes the continuous-indexing loop: ONE streaming
    job drains new pages into delta batches; from those batches you either
    merge eagerly (merge_deltas, upserts) or build a generation here and
    serve it immediately (GenerationSet), promoting later
    (promote_generation).

    The token stream is reconstructed exactly: delta `pos` values are the
    token-array ordinals the analyzer emitted, so sorting each document's
    (pos, term) rows rebuilds the original tokens array and build_segments
    re-derives byte-identical occurrence rows — the resulting index equals
    build_generation over the same pages row-for-row (pinned in tests).
    Latest-batch-wins per docid (merge_deltas' upsert rule) when a docid
    was re-streamed across the selected batches.

    Streaming deltas are always unstemmed (the analyzer contract of
    stream_postings_delta), so a stemmed base refuses — rebuild from pages
    with build_generation in that case."""
    from pyspark.sql import Window

    from honeywell_search_engine_spark.streaming.ingest import delta_postings

    with open(f"{base_index_dir}/stats.json") as f:
        meta = json.load(f)
    if meta.get("stemmed", False):
        raise ValueError(
            "streamed deltas are unstemmed; a stemmed base needs "
            "build_generation over the pages themselves"
        )
    rows = delta_postings(spark, delta_dir)
    if batch_ids is not None:
        rows = rows.filter(F.col("delta_batch").isin([int(b) for b in batch_ids]))
    w = Window.partitionBy("docid")
    rows = (
        rows.withColumn("_mx", F.max("delta_batch").over(w))
        .filter(F.col("delta_batch") == F.col("_mx"))
        .select("docid", "doclen", "pos", "term")
    )
    tok = (
        rows.groupBy("docid", "doclen")
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "term"))).alias("_pt")
        )
        .select(
            "docid",
            "doclen",
            F.expr("transform(_pt, x -> x.term)").alias("tokens"),
        )
    )
    build_segments(
        tok,
        out_dir,
        delta_dir,
        n_buckets=int(meta["n_buckets"]),
        n_shards=int(meta["n_shards"]),
        stemmed=False,
        codec_fmt=meta.get("codec", codec.FMT_VB),
    )
    with open(f"{out_dir}/stats.json") as f:
        gmeta = json.load(f)
    return {"docs": int(gmeta["n_docs"]), "delta_dir": delta_dir}
