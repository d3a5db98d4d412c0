"""Segmented inverted index: build, manifests, checkpointed resume.

Layout on disk (all immutable once a manifest marks its unit complete):

    {index}/docmap/                      forward index / docvalues:
                                         (shard, local_id, docid, doclen)
    {index}/segments/bucket=<b>/...      phase-2 encoded posting lists
                                         (values are shard-local lids):
                                         the one durable copy of the
                                         postings
    {index}/term_stats/                  (term, df, ctf, idf) parquet,
                                         one term-sorted file
    {index}/stats.json                   N, avgdl, layout params
    {index}/manifests/phase1.json        input lineage for phase 1
    {index}/manifests/bucket_<b>.json    per-partition lineage for phase 2
    {index}/manifests/finalize.json      term_stats written; n_postings

Scratch, deleted once finalize.json commits:

    {index}/postings/bucket=<b>/...      phase-1 occurrence rows (term,
                                         lid, doclen, shard, pos), parquet
    {index}/postings_merged/bucket=<b>/  merge_deltas' staged rows

This module owns those formats, and build, promote, merge and compact
write them only through it: ``bucket_of`` / ``bucket_col`` (the term ->
bucket map), ``write_segments`` (segments/), ``write_occurrences``
(occurrence scratch),
``segment_occurrences`` (segments/ rows -> occurrence rows),
``write_term_stats`` (term_stats/ and n_postings), ``enc_from_arrow``
(segments/ Arrow rows -> ``codec.EncodedList``, the one read path),
its mirror ``arrow_from_encs`` (``codec.EncodedList`` -> segments/ Arrow
rows, the one row constructor of the build, promote and compact),
``make_segment_encoder`` (sorted occurrence rows -> encoded rows, the one
encoder of the build and compact) and
``_invalidate_buckets`` (what a rewriting commit drops before it moves data).

Segment file layout (``write_segments``, the one segment writer of the
build, merge, bucket repair, promote and compact):

- **Sorted by (bucket, term, shard)** within each write task, so every
  bucket file holds its rows in (term, shard) order. The sort leads with
  ``bucket``: the ``partitionBy("bucket")`` writer requires that
  ordering, and a sort on (term, shard) alone is re-sorted by bucket
  and lands unsorted.
- **Row groups of at most SEGMENT_ROW_GROUP_ROWS = 512 rows**
  (``parquet.block.row.count.limit``). A row group's `term` min/max then
  spans a narrow term range, so the footer pruning of the one
  posting-row read (``read_term_rows``: serving nodes and Spark query
  tasks) decodes about one row group per query term per file instead of
  the whole bucket (~2200 rows in the ``ingest`` benchmark's indexes).
  Parquet's 128 MB byte cap still bounds a head term's row group at
  scale.
- **A lean writer, so the extra row groups cost no bytes.** On a
  2000-page index (8 buckets, 4 shards), against 1,553,101 bytes of
  unsorted one-row-group files with Spark's default writer:
  - sorted 512-row groups with the default writer: 1,695,939 (+9.2%) —
    every row group repeats its dictionary, statistics and page headers;
  - v2 data pages (``parquet.writer.version``): 1,626,735 (+4.7%) — the
    delta encodings of v2 suit the sorted term and int columns;
  - dictionary off: 1,569,997 (+1.1%) — payload blobs never repeat, so
    a per-row-group dictionary is pure overhead;
  - min/max statistics (and with them the column index) only on `term`
    and `shard`, the columns readers prune by: 1,520,188 (-2.1%);
  - size statistics off: no reader uses them (unchanged at this size).
  - For scale: 32 KB byte-capped row groups with the default writer
    gave 1,935,619 (+24.6%).
  Page checksums stay on (the parquet default).
- Files written before this layout (one unsorted row group per bucket,
  v1 pages) read the same way; footer pruning then simply skips nothing,
  and the next rewrite of a bucket (promote, merge, compact, repair)
  clusters it.

Design (north_rule / SURVEY.md §3.2 rebuild lifecycle):

- **Document-partitioned shards + term-bucketed files.** Every posting row
  gets ``shard = pmod(docid, n_shards)`` and ``bucket = crc32(term) %
  n_buckets``. The shard key IS the salt: a Zipf head term's posting list
  is split into n_shards bounded groups instead of one giant skewed one
  (the reference has no analog — Postgres GIN absorbs this; at 10^12 docs
  it is the difference between a build that finishes and one straggler
  task that never does). Because shard is a pure function of docid, every
  doc's postings for *all* terms live in one shard, so conjunctive
  scoring never crosses shards and per-shard top-k + global k-merge is
  exact.
- **ONE shuffle for the whole build.** Phase 1 explodes raw token
  occurrences and does the salted ``repartition(term, shard)`` +
  ``sortWithinPartitions(bucket, term, shard, lid, pos)`` ONCE, writing the
  grouped, sorted occurrence rows partitioned by bucket. tf is never
  aggregated relationally: phase 2 derives it by run-length counting the
  sorted duplicates inside the encoder. This removes two full exchanges
  of the posting set (the groupBy(term, docid) shuffle and a phase-2
  re-shuffle) — measured locally the build went from 3 data movements to
  1; at 10^12 docs that is the build's dominant cost. The sort leads with
  ``bucket`` so the partitioned write's required ordering is already
  satisfied and Spark's writer adds no (unstable!) re-sort of its own.
- **Phase 2 is shuffle-free**: each (term, shard) group lives entirely in
  one parquet file (written by the one task that owned its hash), so the
  encoder (mapInArrow) runs directly on the pruned file scan. The kernel
  is *streaming*: it carries the open run across Arrow batches and never
  materializes a partition, only the current (term, shard) run.
- **Checkpointed resume**: phase 1 commits once (Spark's all-or-nothing
  parquet job commit) and writes a manifest with the input fingerprint;
  phase 2 proceeds bucket-chunk by bucket-chunk, writing one manifest per
  bucket (row counts + content checksum); a finalize step derives
  term_stats (df = Σn, ctf = Σctf) from segment metadata — no posting
  scan — and deletes the phase-1 scratch. ``build_segments`` re-invoked
  after a crash verifies fingerprints and encodes only buckets whose
  manifest is missing — segments are byte-identical to an uninterrupted
  build (tested). After finalize a missing manifest re-derives its bucket
  from the bucket's own segment rows (``segment_occurrences``).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import zlib
from bisect import bisect_left
from collections import OrderedDict

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from honeywell_search_engine_spark.index import codec
from honeywell_search_engine_spark.index.docmap import assign_local_ids
from honeywell_search_engine_spark.index.stats import CorpusStats, idf_col

N_BUCKETS = 64
N_SHARDS = 8


def bucket_of(term: str, n_buckets: int = N_BUCKETS) -> int:
    """Python-side bucket id; must agree with the JVM crc32 expression."""
    return zlib.crc32(term.encode("utf-8")) % n_buckets


def bucket_col(term_col, n_buckets: int = N_BUCKETS):
    """``bucket_of`` as a Column: pmod(crc32(term), n_buckets)."""
    return F.pmod(F.crc32(term_col.cast("string").cast("binary")), F.lit(n_buckets)).cast("int")

SEGMENT_SCHEMA = (
    "term string, shard int, n long, ctf long, "
    "bmax_docid array<long>, bmax_u array<double>, "
    "d_off array<long>, t_off array<long>, l_off array<long>, "
    "deltas binary, tfs binary, doclens binary, "
    "positions binary, p_off array<long>, fmt int, bucket int"
)


def _pa_segment_schema():
    import pyarrow as pa

    return pa.schema(
        [
            ("term", pa.string()),
            ("shard", pa.int32()),
            ("n", pa.int64()),
            ("ctf", pa.int64()),
            ("bmax_docid", pa.list_(pa.int64())),
            ("bmax_u", pa.list_(pa.float64())),
            ("d_off", pa.list_(pa.int64())),
            ("t_off", pa.list_(pa.int64())),
            ("l_off", pa.list_(pa.int64())),
            ("deltas", pa.binary()),
            ("tfs", pa.binary()),
            ("doclens", pa.binary()),
            ("positions", pa.binary()),
            ("p_off", pa.list_(pa.int64())),
            ("fmt", pa.int32()),
            ("bucket", pa.int32()),
        ]
    )


PA_SEGMENT_SCHEMA = _pa_segment_schema()


# --------------------------------------------------------------------------
# segment rows <-> encoded posting lists
# --------------------------------------------------------------------------


def _arrow_col(tbl, name):
    """Column `name` of an Arrow Table or RecordBatch as one Array."""
    col = tbl.column(name)
    if not hasattr(col, "num_chunks"):
        return col
    return col.chunk(0) if col.num_chunks == 1 else col.combine_chunks()


def _arrow_lists(tbl, name) -> list[np.ndarray]:
    """Each row's value of list column `name`: views of its value buffer."""
    a = _arrow_col(tbl, name)
    vals = a.values.to_numpy(zero_copy_only=False)
    off = a.offsets.to_numpy()
    return [vals[off[i] : off[i + 1]] for i in range(tbl.num_rows)]


def _positions_from_arrow(tbl, positions=True) -> list[tuple[bytes, np.ndarray | None]]:
    """(positions stream, p_off) of every row of a segment-row Arrow Table
    or RecordBatch. `positions` is one flag or one per row; a row not
    flagged, a row without positions, and every row of a table without
    the positions / p_off columns (a scan that projected them away, or an
    index built before they joined the schema) get (b"", None)."""
    k = tbl.num_rows
    keep = [bool(positions)] * k if np.ndim(positions) == 0 else [bool(f) for f in positions]
    names = set(tbl.schema.names)
    if not ("positions" in names and "p_off" in names and any(keep)):
        return [(b"", None)] * k
    pos, po = _arrow_col(tbl, "positions").to_pylist(), _arrow_lists(tbl, "p_off")
    null = _arrow_col(tbl, "p_off").is_null().to_pylist()
    return [(pos[i] or b"", po[i]) if keep[i] and not null[i] else (b"", None)
            for i in range(k)]


def enc_from_arrow(tbl, positions=True) -> list[codec.EncodedList]:
    """The encoded posting list of every row of a segment-row Arrow Table
    or RecordBatch, built from its columns: no per-row dicts, and the
    block-metadata arrays are views of the columns' value buffers.
    `positions` (one flag, or one per row) keeps a row's positions
    stream (``_positions_from_arrow``), and a row or table without `fmt`
    (an index built before PForDelta) yields a varbyte list."""
    names = set(tbl.schema.names)
    ns = _arrow_col(tbl, "n").to_pylist()
    bd, bu = _arrow_lists(tbl, "bmax_docid"), _arrow_lists(tbl, "bmax_u")
    do, to, lo = (_arrow_lists(tbl, c) for c in ("d_off", "t_off", "l_off"))
    deltas, tfs, doclens = (_arrow_col(tbl, c).to_pylist() for c in ("deltas", "tfs", "doclens"))
    fmts = (
        [codec.FMT_VB if f is None else codec.FMT_FROM_TAG[f]
         for f in _arrow_col(tbl, "fmt").to_pylist()]
        if "fmt" in names else [codec.FMT_VB] * tbl.num_rows
    )
    return [
        codec.EncodedList(
            n=int(ns[i]), bmax_docid=bd[i], bmax_u=bu[i],
            d_off=do[i], t_off=to[i], l_off=lo[i],
            deltas=deltas[i], tfs=tfs[i], doclens=doclens[i],
            positions=p, p_off=po, fmt=fmts[i],
        )
        for i, (p, po) in enumerate(_positions_from_arrow(tbl, positions))
    ]


def _offsets32(sizes) -> np.ndarray:
    """The int32 Arrow offsets of values of the given per-row sizes."""
    off = np.zeros(len(sizes) + 1, dtype=np.int64)
    np.cumsum(sizes, out=off[1:])
    if off[-1] >= 1 << 31:
        raise ValueError("a segment batch column exceeds 2 GiB; emit smaller batches")
    return off.astype(np.int32)


def _list_column(arrays: list, dtype):
    """One Arrow list column of per-row numpy arrays, None a null row."""
    import pyarrow as pa

    held = [a for a in arrays if a is not None]
    null = np.fromiter((a is None for a in arrays), dtype=bool, count=len(arrays))
    return pa.ListArray.from_arrays(
        _offsets32([0 if a is None else a.size for a in arrays]),
        np.concatenate([np.empty(0, dtype), *held]).astype(dtype, copy=False),
        mask=pa.array(null) if null.any() else None,
    )


def _binary_column(blobs: list):
    """One Arrow binary column of per-row byte strings: one join."""
    import pyarrow as pa

    off = _offsets32([len(b) for b in blobs])
    return pa.Array.from_buffers(
        pa.binary(), len(blobs), [None, pa.py_buffer(off), pa.py_buffer(b"".join(blobs))]
    )


def arrow_from_encs(encs: list, term, shard, ctf, bucket):
    """The PA_SEGMENT_SCHEMA RecordBatch of the encoded (term, shard)
    posting lists `encs`, given each list's term, shard, ctf and bucket
    (sequences, numpy or Arrow arrays, one value per list): the mirror of
    ``enc_from_arrow`` and the one constructor of the segment rows every
    writer emits. Each column is built from the lists' byte buffers and
    block-offset arrays, concatenated once; no per-row dicts. A list
    without positions gets an empty positions stream and a null p_off."""
    import pyarrow as pa

    def lists(name, dtype):
        return _list_column([getattr(e, name) for e in encs], dtype)

    def blobs(name):
        return _binary_column([getattr(e, name) for e in encs])

    k = len(encs)
    cols = [
        term, shard, np.fromiter((e.n for e in encs), dtype=np.int64, count=k), ctf,
        lists("bmax_docid", np.int64), lists("bmax_u", np.float64),
        lists("d_off", np.int64), lists("t_off", np.int64), lists("l_off", np.int64),
        blobs("deltas"), blobs("tfs"), blobs("doclens"), blobs("positions"),
        lists("p_off", np.int64),
        np.fromiter((codec.FMT_TAGS[e.fmt] for e in encs), dtype=np.int32, count=k),
        bucket,
    ]
    return pa.RecordBatch.from_arrays(
        [c.cast(f.type) if isinstance(c, pa.Array) else pa.array(c, f.type)
         for f, c in zip(PA_SEGMENT_SCHEMA, cols)],
        schema=PA_SEGMENT_SCHEMA,
    )


# --------------------------------------------------------------------------
# streaming run encoder (phase 2 and compact)
# --------------------------------------------------------------------------


def make_segment_encoder(n_buckets: int, fmt: str = codec.FMT_VB):
    """mapInArrow kernel: consumes (term, shard, lid, doclen, pos)
    OCCURRENCE batches sorted by (term, shard, lid, pos) within the
    partition — duplicate lids are occurrences; tf = run length. Emits one
    encoded row per (term, shard) run (``arrow_from_encs``). The encoder
    of every writer that encodes postings from scratch: the build's
    phase 2, and compact, whose touched lists (``decode_occurrences``
    minus their dead occurrences) stream through it, one stream per codec.

    MEGA-BATCHED: every complete run in an Arrow batch is encoded by ONE
    call per stream (varbyte ``block=1`` gives per-value byte offsets,
    ``codec.pfor_encode_runs`` per-block ones), so each run's bytes and
    block offsets are slices of the shared buffers, and its block maxima
    one ``np.maximum.reduceat`` over all the batch's blocks. Both codecs
    encode runs independently, so the output is BYTE-IDENTICAL to per-run
    encode_postings (asserted by tests/test_codec.py::
    test_mega_batch_encoder_byte_identical and the build-checksum
    invariance tests); the per-run Python cost is building one
    EncodedList of slices.

    mapInArrow, not mapInPandas: the dominant per-row payload is the TERM
    STRING repeated on every occurrence — pandas conversion materializes
    one Python str per row (measured as the majority of the encode job's
    wall time). Arrow batches dictionary-encode the column instead: run
    boundaries come from the int32 indices and the string is looked up
    once per RUN. The open trailing run is carried across batch
    boundaries as plain arrays — memory stays O(batch + largest run).
    Posting values are shard-local dense ordinals (index/docmap.py); a
    query's shard kernel maps the lids it returns to global docids
    (docids_of_lids)."""
    B_ = codec.BLOCK

    def _emit(t_idx, t_vals, s, l, dl, po):
        """The segment rows of every run in the given sorted occurrence
        arrays (at least one row). `t_idx` are per-row indices into the
        term strings `t_vals`."""
        n = t_idx.size
        run_rows = np.flatnonzero(np.concatenate(
            ([True], (t_idx[1:] != t_idx[:-1]) | (s[1:] != s[:-1]))))
        post_new = np.concatenate(([True], l[1:] != l[:-1]))
        post_new[run_rows] = True
        p_idx = np.flatnonzero(post_new)  # occurrence index of posting starts
        docid = l[p_idx].astype(np.uint64)
        tf = np.diff(np.append(p_idx, n)).astype(np.uint64)
        dlp = dl[p_idx].astype(np.uint64)
        r_starts = np.searchsorted(p_idx, run_rows)  # posting index of run starts
        r_ends = np.append(r_starts[1:], docid.size)
        # docid deltas, chain reset at each run start
        deltas = np.empty(docid.size, dtype=np.uint64)
        deltas[0] = docid[0]
        np.subtract(docid[1:], docid[:-1], out=deltas[1:])
        deltas[r_starts] = docid[r_starts]
        # position deltas, chain reset at each posting start
        pou = po.astype(np.uint64)
        posd = np.empty(n, dtype=np.uint64)
        posd[0] = pou[0]
        np.subtract(pou[1:], pou[:-1], out=posd[1:])
        posd[p_idx] = pou[p_idx]
        # the block table: run r owns blocks b0[r]:b0[r + 1], and block g
        # starts at posting blk[g]
        nb = (r_ends - r_starts + B_ - 1) // B_
        b0 = np.concatenate(([0], np.cumsum(nb)))
        blk_run = np.repeat(np.arange(nb.size), nb)
        blk = r_starts[blk_run] + (np.arange(b0[-1]) - b0[blk_run]) * B_
        # each stream as (buffer, byte offset of every block, of every run
        # start and of every run end); positions stay varbyte in both
        # codecs (per-value offsets are the phrase path's random access)
        streams = []
        for v in (deltas, tf - np.uint64(1), dlp):
            if fmt == codec.FMT_PFOR:
                buf, off, _ = codec.pfor_encode_runs(v, r_starts, r_ends)
                streams.append((buf, off[:-1], off[b0[:-1]], off[b0[1:]]))
            else:
                buf, off = codec.varbyte_encode(v, block=1)
                off = np.append(off, len(buf))
                streams.append((buf, off[blk], off[r_starts], off[r_ends]))
        buf, off = codec.varbyte_encode(posd, block=1)
        off = np.append(off, len(buf))[np.append(p_idx, n)]  # per posting (+end)
        streams.append((buf, off[blk], off[r_starts], off[r_ends]))
        cuts = b0[1:-1]
        cols = [np.split(np.maximum.reduceat(docid, blk).astype(np.int64), cuts),
                np.split(np.maximum.reduceat(codec.bm25_u_bound(tf), blk), cuts)]
        for buf, g_off, st, en in streams:
            cols.append(np.split(g_off - st[blk_run], cuts))
            cols.append([buf[a:b] for a, b in zip(st.tolist(), en.tolist())])
        bd, bu, d_o, d_b, t_o, t_b, l_o, l_b, p_o, p_b = cols
        encs = [codec.EncodedList(*f, fmt=fmt) for f in zip(
            (r_ends - r_starts).tolist(), bd, bu, d_o, t_o, l_o, d_b, t_b, l_b, p_b, p_o)]
        terms = [t_vals[i] for i in t_idx[run_rows].tolist()]
        return arrow_from_encs(
            encs, terms, s[run_rows], np.add.reduceat(tf, r_starts).astype(np.int64),
            [bucket_of(t, n_buckets) for t in terms],
        )

    def encode_stream(batches):
        import pyarrow.compute as pc

        # carry: (term_str, shard, lid, doclen, pos arrays) of the open
        # trailing run — a run has ONE term, so the string carries whole
        carry = None
        for batch in batches:
            if batch.num_rows == 0:
                continue
            td = pc.dictionary_encode(batch.column("term"))
            t_idx = np.asarray(td.indices).astype(np.int64)
            t_vals = td.dictionary.to_pylist()
            s, l, dl, po = (np.asarray(batch.column(c)).astype(np.int64)
                            for c in ("shard", "lid", "doclen", "pos"))
            if carry is not None:
                # prepend the carried run under its term's index in this
                # batch (a new index when the batch starts another term):
                # the run ends where (term, shard) changes, like any run
                cterm, cs, cl, cdl, cpo = carry
                ci = int(t_idx[0])
                if t_vals[ci] != cterm:
                    ci = len(t_vals)
                    t_vals.append(cterm)
                t_idx = np.concatenate([np.full(cl.size, ci), t_idx])
                s = np.concatenate([np.full(cl.size, cs), s])
                l, dl, po = (np.concatenate(p) for p in ((cl, l), (cdl, dl), (cpo, po)))
            # hold back the (possibly still open) final run
            ends = np.flatnonzero((t_idx[1:] != t_idx[:-1]) | (s[1:] != s[:-1]))
            last = int(ends[-1]) + 1 if ends.size else 0
            carry = (t_vals[int(t_idx[last])], int(s[last]), l[last:], dl[last:], po[last:])
            if last:
                yield _emit(t_idx[:last], t_vals, s[:last], l[:last], dl[:last], po[:last])
        if carry is not None:
            cterm, cs, cl, cdl, cpo = carry
            yield _emit(np.zeros(cl.size, dtype=np.int64), [cterm],
                        np.full(cl.size, cs), cl, cdl, cpo)

    return encode_stream


# --------------------------------------------------------------------------
# manifests
# --------------------------------------------------------------------------


def _manifest_dir(index_dir: str) -> str:
    return os.path.join(index_dir, "manifests")


def _write_manifest(index_dir: str, name: str, payload: dict) -> None:
    os.makedirs(_manifest_dir(index_dir), exist_ok=True)
    path = os.path.join(_manifest_dir(index_dir), name)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
    os.replace(tmp, path)  # atomic commit


def _read_manifest(index_dir: str, name: str) -> dict | None:
    try:
        with open(os.path.join(_manifest_dir(index_dir), name)) as f:
            return json.load(f)
    except (FileNotFoundError, json.JSONDecodeError):
        return None


def _invalidate_buckets(index_dir: str, buckets) -> None:
    """Remove the manifests of `buckets`, then the finalize marker: the
    first step of every commit that rewrites those buckets, taken before
    any data moves, so a crash leaves an index that refuses to open (and a
    resumed build re-encodes and refinalizes) rather than one whose
    manifests describe bytes that are gone."""
    for name in [f"bucket_{b}.json" for b in buckets] + ["finalize.json"]:
        p = os.path.join(_manifest_dir(index_dir), name)
        if os.path.exists(p):
            os.remove(p)


def input_fingerprint(spark: SparkSession, input_path: str) -> str:
    """Cheap lineage identity of the input table. For an Iceberg input
    (``iceberg:<table>``, sources/pages.read_pages) this is the table's
    CURRENT SNAPSHOT ID — the exact immutable data version the build read,
    resumable/auditable across engines. For filesystem parquet it falls
    back to a file-name+size listing checksum."""
    if input_path.startswith("iceberg:"):
        tbl = input_path[len("iceberg:"):]
        # The CURRENT snapshot pointer (the `main` branch ref), NOT
        # MAX(committed_at) over the snapshots log: after a rollback the
        # newest-ever snapshot is not the version a scan reads, and a
        # concurrent commit between fingerprint and scan would race
        # (round-3 advice). `refs` is the branch-pointer metadata table.
        row = (
            spark.sql(
                f"SELECT snapshot_id FROM {tbl}.refs WHERE name = 'main'"
            ).collect()
        )
        return f"iceberg-snapshot:{row[0]['snapshot_id']}" if row else "iceberg-snapshot:empty"
    jvm_files = []
    for root, _, files in os.walk(input_path):
        for fn in files:
            if fn.endswith((".parquet", ".orc")) or not fn.startswith(("_", ".")):
                p = os.path.join(root, fn)
                jvm_files.append(f"{os.path.relpath(p, input_path)}:{os.path.getsize(p)}")
    if not jvm_files and os.path.isfile(input_path):
        jvm_files = [f"{os.path.basename(input_path)}:{os.path.getsize(input_path)}"]
    blob = "\n".join(sorted(jvm_files)).encode()
    return f"{zlib.crc32(blob):08x}:{len(jvm_files)}"


def _checksum_cols(df: DataFrame) -> list[str]:
    """Columns folded into the per-bucket xxhash64 content checksum.
    `fmt` joined the segment schema when PForDelta landed; an index
    built before that has no such column, and its persisted manifests
    were hashed WITHOUT it — so `fmt` participates only when present,
    keeping recomputed checksums comparable to pre-fmt manifests (and
    avoiding an unresolved-column error on the scan)."""
    cols = ["term", "shard", "n"]
    if "fmt" in df.columns:
        cols.append("fmt")
    return cols + ["deltas", "tfs", "doclens", "positions"]


def bucket_checksums(spark: SparkSession, seg_path: str, buckets: list[int]) -> dict[int, dict]:
    """Order-independent content checksums for many buckets in ONE job
    (per-bucket jobs would add ~0.3s fixed cost × n_buckets)."""
    df = spark.read.parquet(seg_path).filter(F.col("bucket").isin(buckets))
    rows = (
        df.groupBy("bucket")
        .agg(
            F.count("*").alias("rows"),
            F.sum("n").alias("postings"),
            # bit_xor, not sum: order-independent AND overflow-free under
            # ANSI mode (sum of 64-bit hashes overflows LongType)
            F.bit_xor(
                F.xxhash64(*_checksum_cols(df))
            ).alias("checksum"),
        )
        .collect()
    )
    out = {
        int(r["bucket"]): {
            "rows": r["rows"],
            "postings": int(r["postings"] or 0),
            "checksum": int(r["checksum"] or 0),
        }
        for r in rows
    }
    for b in buckets:  # buckets with zero terms still get a manifest
        out.setdefault(b, {"rows": 0, "postings": 0, "checksum": 0})
    return out


def bucket_checksum(spark: SparkSession, seg_path: str, b: int) -> dict:
    return bucket_checksums(spark, seg_path, [b])[b]


# --------------------------------------------------------------------------
# the occurrence and term-dictionary layouts
# --------------------------------------------------------------------------


#: row cap of a segment file's row groups (``write_segments``)
SEGMENT_ROW_GROUP_ROWS = 512


def write_segments(df: DataFrame, path: str) -> None:
    """Write SEGMENT_SCHEMA rows to `path` (overwrite, ``bucket=<b>``
    directories), every file clustered by (term, shard) into row groups
    of at most SEGMENT_ROW_GROUP_ROWS rows. See "Segment file layout" in
    the module docstring for the sort key and each writer setting."""
    w = (
        df.sortWithinPartitions("bucket", "term", "shard")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .option("parquet.block.row.count.limit", str(SEGMENT_ROW_GROUP_ROWS))
        .option("parquet.writer.version", "PARQUET_2_0")
        .option("parquet.enable.dictionary", "false")
        .option("parquet.column.statistics.enabled", "false")
        .option("parquet.size.statistics.enabled", "false")
    )
    for c in ("term", "shard"):
        w = w.option(f"parquet.column.statistics.enabled#{c}", "true")
    w.parquet(path)


def write_occurrences(df: DataFrame, path: str) -> None:
    """Write occurrence rows (term, lid, doclen, shard, bucket, pos) in the
    layout the no-shuffle phase-2 encode relies on ("ONE shuffle" above):
    each (term, shard) group contiguous and sorted by (lid, pos) in
    exactly one file of its bucket directory. Occurrence rows are encode
    scratch (a build's postings/, a merge's postings_merged/), never a
    durable copy."""
    (
        df.repartition(F.col("term"), F.col("shard"))
        .sortWithinPartitions("bucket", "term", "shard", "lid", "pos")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )


OCCURRENCE_SCHEMA = "term string, shard int, lid long, doclen int, pos int, bucket int"

#: bound on the occurrences one batched decode of segment rows holds
_DECODE_FLUSH = 1 << 20


def decode_chunks(ctf):
    """Yield (lo, hi) row ranges of a batch of segment rows, given their
    ctf column, whose occurrences (Σ ctf) stay within _DECODE_FLUSH — a
    row larger than that is a range of its own. Each range is one
    ``codec.decode_many`` / ``decode_concat`` call: the full-decode loops
    pay the per-call cost per chunk, not per row, and memory stays
    bounded."""
    lo, held = 0, 0
    for i, c in enumerate(ctf):
        c = int(c)
        if held and held + c > _DECODE_FLUSH:
            yield lo, i
            lo, held = i, 0
        held += c
    if lo < len(ctf):
        yield lo, len(ctf)


def decode_occurrences(batches):
    """mapInArrow body: segment-row Arrow batches -> OCCURRENCE_SCHEMA
    batches, one row per token occurrence. The batch's lists come from
    its columns (``enc_from_arrow``), and every chunk of rows
    (``decode_chunks``) decodes in one ``codec.decode_concat`` (lists of
    either codec, or both in a promoted index): docids,
    tfs, doclens (each list's own doclen stream) and flat positions, back
    to back; a posting's lid and doclen repeat tf times and a list's term,
    shard and bucket repeat over its occurrences (numpy ``repeat``, no
    per-row loop). Rows come out sorted by (lid, pos) within each (term,
    shard): exactly the phase-1 rows the list was encoded from, so
    re-encoding them reproduces its bytes. Runs in-process over pyarrow
    batches as well."""
    import pyarrow as pa

    schema = pa.schema([("term", pa.string()), ("shard", pa.int32()), ("lid", pa.int64()),
                        ("doclen", pa.int32()), ("pos", pa.int32()), ("bucket", pa.int32())])
    for batch in batches:
        encs = enc_from_arrow(batch)
        ns = batch.column("n").to_numpy()
        for lo, hi in decode_chunks(batch.column("ctf").to_numpy()):
            pl, want = codec.decode_concat(encs[lo:hi], True)
            if not want.all():
                i = lo + int(np.argmin(want))
                raise ValueError(f"segment row ({batch.column('term')[i].as_py()!r}, "
                                 f"shard {batch.column('shard')[i].as_py()}) has no positions")
            tf = pl.tfs.astype(np.int64)
            row = pa.array(np.repeat(np.repeat(np.arange(lo, hi), ns[lo:hi]), tf))
            yield pa.RecordBatch.from_arrays(
                [batch.column("term").take(row), batch.column("shard").take(row).cast(pa.int32()),
                 pa.array(np.repeat(pl.docids.astype(np.int64), tf)),
                 pa.array(np.repeat(pl.doclens.astype(np.int32), tf)),
                 pa.array(pl.positions.astype(np.int32)),
                 batch.column("bucket").take(row).cast(pa.int32())],
                schema=schema,
            )


def segment_occurrences(segments: DataFrame) -> DataFrame:
    """The occurrence rows of segment rows (decode_occurrences in a
    mapInArrow): how merge_deltas and a bucket repair re-derive postings
    now that segments are their one durable copy."""
    return segments.mapInArrow(decode_occurrences, schema=OCCURRENCE_SCHEMA)


def write_term_stats(segments_df: DataFrame, n_docs: int, path: str) -> int:
    """Derive the term dictionary (term, df, ctf, idf) from segment
    metadata (df = Σn, ctf = Σctf; no posting scan) and write it as one
    term-sorted file, the order ``SegmentIndex.term_info`` and
    ``ServingIndex.suggest`` prune row groups by. Returns n_postings
    (Σdf), observed on the write instead of a second aggregate job."""
    from pyspark.sql import Observation

    obs = Observation("term_stats_totals")
    (
        segments_df.groupBy("term")
        .agg(F.sum("n").alias("df"), F.sum("ctf").alias("ctf"))
        .withColumn("idf", idf_col(F.col("df"), n_docs))
        .coalesce(1)
        .sortWithinPartitions("term")
        .observe(obs, F.sum("df").alias("n_postings"))
        .write.mode("overwrite")
        .parquet(path)
    )
    return int(obs.get["n_postings"] or 0)


# --------------------------------------------------------------------------
# build (two phases, resumable)
# --------------------------------------------------------------------------


def build_segments(
    tok_docs: DataFrame,
    index_dir: str,
    input_path: str,
    n_buckets: int = N_BUCKETS,
    n_shards: int = N_SHARDS,
    buckets_per_job: int = 16,
    progress: bool = False,
    stemmed: bool = False,
    codec_fmt: str = codec.FMT_PFOR,
) -> None:
    """Full (resumable) index build. Safe to re-invoke after a crash: every
    completed unit is skipped via its manifest; a fingerprint mismatch
    (input changed) fails loudly rather than mixing lineages.

    `stemmed` records (in stats.json) that tok_docs carried Porter-stemmed
    tokens (corpus.tokenized_docs(stem=True)); SegmentIndex/ServingIndex
    read the flag and switch their query analyzers to the stemmed variants
    automatically — callers never have to know how an index was built.

    `codec_fmt` picks the posting-stream codec: "pfor" (PForDelta, the
    default — ~35% smaller posting payload at equal build throughput,
    and the serving decoded-postings LRU makes warm-query latency
    codec-independent; see index/codec.py) or "vb" (varbyte — simpler,
    ~25% faster on COLD first-touch decodes, the right choice for
    one-shot batch scans that never warm a cache). The flag is persisted in stats.json and stamped on
    every segment row, so queries/merges/compaction need no out-of-band
    knowledge and mixed-codec indexes (old buckets vb, merged buckets
    pfor) decode correctly per row."""
    spark = tok_docs.sparkSession
    os.makedirs(index_dir, exist_ok=True)
    fp = input_fingerprint(spark, input_path)

    # ---- phase 1: tf rows + stats ----------------------------------------
    p1 = _read_manifest(index_dir, "phase1.json")
    if p1 and p1.get("status") == "complete":
        if p1["input_fingerprint"] != fp:
            raise ValueError(
                f"index at {index_dir} was built from a different input "
                f"({p1['input_fingerprint']} != {fp}); refusing to resume"
            )
        if bool(p1.get("stemmed", False)) != stemmed:
            raise ValueError(
                f"index at {index_dir} was built with stemmed="
                f"{p1.get('stemmed', False)}; refusing to resume with "
                f"stemmed={stemmed} (mixed analyzers in one index)"
            )
        if p1.get("codec", codec.FMT_VB) != codec_fmt:
            raise ValueError(
                f"index at {index_dir} was built with codec="
                f"{p1.get('codec', codec.FMT_VB)}; refusing to resume with "
                f"codec={codec_fmt} (a resumed build must re-encode only "
                f"missing buckets byte-identically)"
            )
    else:
        t0 = time.time()
        # ---- docmap first: dense per-shard ordinals (index/docmap.py).
        # Needs only the docid SET (a narrow column), no tokenization.
        dm = assign_local_ids(tok_docs.select("docid"), n_shards)
        dm.write.mode("overwrite").parquet(f"{index_dir}/docmap_ids")
        dm = spark.read.parquet(f"{index_dir}/docmap_ids")

        # ---- postings: join docs to their lids BEFORE exploding tokens
        # (a doc-level sort-merge exchange — the token payload moves once
        # here and once in the salted repartition below; the prize is
        # posting deltas over dense lids, several-fold smaller on disk and
        # proportionally faster to decode).
        tok_l = tok_docs.join(dm, "docid")
        occ = tok_l.select(
            F.col("local_id").alias("lid"),
            "doclen",
            "shard",
            F.posexplode("tokens").alias("pos", "term"),
        ).withColumn("bucket", bucket_col(F.col("term"), n_buckets))
        # THE shuffle of the build
        write_occurrences(occ, f"{index_dir}/postings")
        # ---- finalize the docmap as the forward index: attach doclen
        # (derived from the written postings — no re-tokenize; zero-token
        # docs get doclen 0 and simply own an unused lid).
        pr = spark.read.parquet(f"{index_dir}/postings")
        dl = pr.groupBy("shard", "lid").agg(F.first("doclen").alias("doclen"))
        # corpus stats ride the docmap WRITE as an Observation — no
        # separate re-read/aggregate job afterwards (round-4 serial-floor
        # item: every extra job is fixed scheduling cost that hits the
        # high-core scaling leg proportionally harder)
        from pyspark.sql import Observation

        obs = Observation("docmap_stats")
        (
            dm.join(
                dl.withColumnRenamed("lid", "local_id"),
                ["shard", "local_id"],
                "left",
            )
            .withColumn("doclen", F.coalesce(F.col("doclen"), F.lit(0)))
            .observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.sum("doclen").alias("sum_dl"),
            )
            .write.mode("overwrite")
            .parquet(f"{index_dir}/docmap")
        )
        shutil.rmtree(f"{index_dir}/docmap_ids", ignore_errors=True)
        stats_row = obs.get
        n_input = int(stats_row["n"])
        cs = CorpusStats(
            n_docs=n_input,
            avgdl=float(stats_row["sum_dl"] or 0) / n_input if n_input else 0.0,
        )
        with open(f"{index_dir}/stats.json", "w") as f:
            json.dump(
                {
                    "n_docs": cs.n_docs,
                    "avgdl": cs.avgdl,
                    # exact integer Σdoclen: lets GenerationSet derive the
                    # logical stats of a generation union without reading
                    # any docmap column (r7; maintained by merge/compact/
                    # promote in lockstep with n_docs/avgdl)
                    "sum_doclen": int(stats_row["sum_dl"] or 0),
                    "n_buckets": n_buckets,
                    "n_shards": n_shards,
                    "stemmed": stemmed,
                    "codec": codec_fmt,
                },
                f,
            )
        _write_manifest(
            index_dir,
            "phase1.json",
            {
                "status": "complete",
                "input_path": input_path,
                "input_fingerprint": fp,
                "n_docs": cs.n_docs,
                "avgdl": cs.avgdl,
                "n_buckets": n_buckets,
                "n_shards": n_shards,
                "stemmed": stemmed,
                "codec": codec_fmt,
                "elapsed_sec": round(time.time() - t0, 2),
            },
        )

    # ---- phase 2 + finalize ------------------------------------------------
    encode_pending_buckets(spark, index_dir, fp, buckets_per_job, progress)


def encode_pending_buckets(
    spark: SparkSession,
    index_dir: str,
    fp: str,
    buckets_per_job: int = 16,
    progress: bool = False,
    occ_path: str | None = None,
) -> None:
    """Phase 2: encode every bucket whose manifest is missing/incomplete
    (NO shuffle — groups are file-contiguous by construction), then
    finalize term_stats from segment metadata. Idempotent; also the merge
    path after deltas invalidate buckets.

    The pending buckets are encoded from the occurrence rows at
    `occ_path`: a build's phase-1 scratch ``postings/`` (the default) or
    merge_deltas' staged ``postings_merged/``. A finalized index keeps no
    occurrence rows, so when `occ_path` is absent the pending buckets are
    re-derived from their own segment rows (``segment_occurrences``)
    first. Once term_stats commits, the scratch is deleted: segments are
    the one durable copy of the postings."""
    occ_path = occ_path or f"{index_dir}/postings"
    with open(f"{index_dir}/stats.json") as f:
        meta = json.load(f)
    n_buckets = meta["n_buckets"]
    codec_fmt = meta.get("codec", codec.FMT_VB)
    todo = [
        b
        for b in range(n_buckets)
        if (m := _read_manifest(index_dir, f"bucket_{b}.json")) is None
        or m.get("status") != "complete"
    ]
    if todo and not os.path.isdir(occ_path):
        # staged, then renamed into place: a crash never leaves a partial
        # scratch under the name this check trusts
        staging = f"{occ_path}.staging"
        shutil.rmtree(staging, ignore_errors=True)
        write_occurrences(
            segment_occurrences(
                spark.read.parquet(f"{index_dir}/segments").filter(F.col("bucket").isin(todo))
            ),
            staging,
        )
        os.rename(staging, occ_path)
    # a (term, shard) group must never be split across scan partitions.
    # Spark's actual split size is min(maxPartitionBytes, max(openCost,
    # bytes/parallelism)) — a huge maxPartitionBytes alone does NOT forbid
    # splitting when bytes/core shrinks, so pin BOTH knobs: every phase-1
    # file becomes exactly one scan partition (one task per file — the
    # file is the atomic unit; a group lives in one file by construction).
    prev_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    prev_oc = spark.conf.get("spark.sql.files.openCostInBytes")
    prev_arb = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    prev_pom = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(512 * 1024**3))
    spark.conf.set("spark.sql.files.openCostInBytes", str(512 * 1024**3))
    # 100k-row Arrow batches for the encoder: per-batch fixed work
    # (dictionary encode, carry splice, varbyte setup) dominates at the
    # 10k default; measured fastest at ~100k (bigger thrashes caches)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
    encoder = make_segment_encoder(n_buckets, fmt=codec_fmt)
    try:
        for i in range(0, len(todo), buckets_per_job):
            chunk = todo[i : i + buckets_per_job]
            t0 = time.time()
            rows = (
                spark.read.parquet(occ_path)
                .filter(F.col("bucket").isin(chunk))  # partition-pruned scan
                .select("term", "shard", "lid", "doclen", "pos")
            )
            # repartition the (small, self-contained) ENCODED rows by
            # bucket before the write: one output file per bucket instead
            # of tasks-per-bucket fragments — the serial driver-side
            # commit shrinks ~17x and every later bucket-pruned query
            # scan touches exactly one file. The exchange moves only the
            # compressed segment payload (~0.7% of the corpus).
            write_segments(
                rows.mapInArrow(encoder, schema=SEGMENT_SCHEMA).repartition(
                    len(chunk), F.col("bucket")
                ),
                f"{index_dir}/segments",
            )
            elapsed = round(time.time() - t0, 2)
            chks = bucket_checksums(spark, f"{index_dir}/segments", chunk)
            for b in chunk:
                _write_manifest(
                    index_dir,
                    f"bucket_{b}.json",
                    {
                        "status": "complete",
                        "bucket": b,
                        "input_fingerprint": fp,
                        "chunk_elapsed_sec": elapsed,
                        **chks[b],
                    },
                )
            if progress:
                print(f"[build_segments] buckets {chunk[0]}..{chunk[-1]} in {elapsed}s")
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev_mpb)
        spark.conf.set("spark.sql.files.openCostInBytes", prev_oc)
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev_arb)
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_pom)

    # ---- finalize: term_stats from segment metadata (no posting scan) ----
    fin = _read_manifest(index_dir, "finalize.json")
    if todo or not fin or fin.get("status") != "complete":
        n_postings = write_term_stats(
            spark.read.parquet(f"{index_dir}/segments"),
            meta["n_docs"],
            f"{index_dir}/term_stats",
        )
        _write_manifest(
            index_dir,
            "finalize.json",
            {"status": "complete", "input_fingerprint": fp, "n_postings": n_postings},
        )
    shutil.rmtree(occ_path, ignore_errors=True)


def load_tombstones(index_dir: str) -> frozenset[int]:
    """Union of all tombstoned docids (see maintenance.delete_docs)."""
    tdir = os.path.join(index_dir, "tombstones")
    if not os.path.isdir(tdir):
        return frozenset()
    dead: set[int] = set()
    for fn in sorted(os.listdir(tdir)):
        if fn.endswith(".json"):
            with open(os.path.join(tdir, fn)) as f:
                dead.update(json.load(f)["docids"])
    return frozenset(dead)


# --------------------------------------------------------------------------
# reader
# --------------------------------------------------------------------------


# Index terms are the analyzer's output alphabet: lowercase ASCII
# letters and digits (functions/analyzer.py _TOKEN_RE, lowercased; the
# Porter stemmer only truncates/rewrites within it).
_TERM_RE = re.compile(r"[a-z0-9]+")


def check_terms(terms) -> list[str]:
    """Caller-supplied index terms (pre-analyzed or excluded terms) must be
    in the analyzer alphabet; anything else can never match a posting list
    and is rejected with a ValueError instead of reaching the scan."""
    bad = [t for t in terms if not isinstance(t, str) or not _TERM_RE.fullmatch(t)]
    if bad:
        raise ValueError(
            f"index terms must match [a-z0-9]+ (analyzer output); got {bad[:5]!r}"
        )
    return list(terms)


def _snapshot_files(df: DataFrame) -> list[str]:
    """Local paths of the parquet files `df` reads: the listing Spark took
    when `df` was created. pyarrow reads over these lists see the same
    index state as the DataFrames they were taken from, even after a
    compact or merge swaps the directories."""
    from urllib.parse import unquote, urlparse

    return sorted(unquote(urlparse(u).path) for u in df.inputFiles())


def docids_of_lids(docmap_files: list[str], keys: np.ndarray) -> np.ndarray:
    """Global docids of posting keys (shard << KEY_BITS) | local id,
    aligned with `keys`: the docvalues lookup a shard-kernel task runs on
    its own output. ONE pyarrow read of `docmap_files` (a handle's
    snapshot) with ``shard IN shards AND local_id IN lids`` pushed into
    the row-group statistics, however many shards the task evaluated; no
    Spark scan. Row groups prune only as far as the docmap layout
    clusters (shard, local_id). ValueError when a key is missing from the
    docmap."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    keys = np.asarray(keys, dtype=np.int64)
    if keys.size == 0:
        return np.empty(0, dtype=np.int64)
    want = np.unique(keys)
    dset = ds.dataset(docmap_files, format="parquet")
    tbl = dset.to_table(
        columns=["shard", "local_id", "docid"],
        filter=ds.field("shard").isin(
            pa.array(np.unique(want >> codec.KEY_BITS), dset.schema.field("shard").type))
        & ds.field("local_id").isin(pa.array(np.unique(want & codec.LID_MASK), pa.int64())),
    )
    have = codec.keys_of(tbl.column("shard").to_numpy(), tbl.column("local_id").to_numpy())
    found = int(np.isin(want, have).sum())
    if found != want.size:
        raise ValueError(f"docmap has {found} of {want.size} (shard, local id) keys asked for")
    order = np.argsort(have)
    return tbl.column("docid").to_numpy()[order[np.searchsorted(have, keys, sorter=order)]]


def fuse_rows(terms, shards, encs) -> dict[str, codec.EncodedList]:
    """{term: one keyed list} over segment rows (aligned `terms`, `shards`
    and EncodedLists): each term's rows fused in shard order (``codec.fuse``),
    the one list per term a serving node's or Spark task's kernel call sees."""
    by_term: dict[str, list] = {}
    for t, s, e in sorted(zip(terms, shards, encs), key=lambda r: (r[0], r[1])):
        by_term.setdefault(t, []).append((s, e))
    return dict(zip(by_term, codec.fuse(list(by_term.values()))))


# the segment columns a posting-row read takes: what the kernels read, plus
# the positions stream for the rows of a positional term
_ROW_COLS = ("term", "shard", "n", "bmax_docid", "bmax_u", "d_off", "t_off", "l_off",
             "deltas", "tfs", "doclens", "fmt")
_POS_COLS = ("positions", "p_off")


def files_by_bucket(paths) -> dict[int, list[str]]:
    """{bucket: sorted segment files} of segment file paths, each under
    its ``bucket=<b>`` directory."""
    out: dict[int, list[str]] = {}
    for p in sorted(paths):
        out.setdefault(int(re.search(r"/bucket=(\d+)/", p).group(1)), []).append(p)
    return out


def _footer(path: str) -> tuple:
    """(footer, column names, [(row group, term min, term max)]) of one
    segment file; a row group without term statistics gets (rg, None, None)."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(path)
    ci = next(i for i in range(md.num_columns) if md.schema.column(i).path == "term")
    ranges = []
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(ci).statistics
        ok = st is not None and st.has_min_max
        ranges.append((rg, st.min if ok else None, st.max if ok else None))
    return md, set(md.schema.to_arrow_schema().names), ranges


def _holds_any(terms: list[str], lo: str, hi: str) -> bool:
    """True if the sorted `terms` hold one in [lo, hi]."""
    i = bisect_left(terms, lo)
    return i < len(terms) and terms[i] <= hi


def read_term_rows(bucket_files: dict[int, list[str]], n_buckets: int, terms,
                   need_pos=frozenset(), shards=None,
                   footers: dict | None = None) -> tuple[dict, dict]:
    """({term: df}, {term: fused EncodedList}) of `terms`: the one
    posting-row read of every front end (a ServingIndex miss, a Spark
    query task). `bucket_files` is {bucket: segment files} of an index of
    `n_buckets` buckets, the reader's snapshot. Per file, only the row
    groups whose term min/max can hold one of THAT bucket's terms are
    read — about one per term, as segment files are clustered by (term,
    shard) in row groups of at most SEGMENT_ROW_GROUP_ROWS rows (a file
    written before that layout is one row group, read whole) — and only
    ``_ROW_COLS``, plus ``_POS_COLS`` in a bucket holding a term of
    `need_pos`; only those terms' lists keep positions. df is Σ n over a
    term's rows of every shard (the sum term_stats stores); the lists are
    fused (``fuse_rows``) from the rows of `shards` alone (every shard
    when None), and a term without such rows has no list. `footers`
    ({path: ``_footer``}), when given, keeps each parsed footer for the
    next read. A snapshot file that is gone raises FileNotFoundError."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    footers = {} if footers is None else footers
    dfs = dict.fromkeys(terms, 0)
    row_terms, row_shards, encs = [], [], []
    by_bucket: dict[int, list[str]] = {}
    for t in sorted(dfs):
        by_bucket.setdefault(bucket_of(t, n_buckets), []).append(t)
    for b, ts in by_bucket.items():
        cols = _ROW_COLS + (_POS_COLS if any(t in need_pos for t in ts) else ())
        for path in bucket_files.get(b, ()):
            md, names, ranges = footers.get(path) or footers.setdefault(path, _footer(path))
            rgs = [rg for rg, lo, hi in ranges if lo is None or _holds_any(ts, lo, hi)]
            if not rgs:
                continue
            with pq.ParquetFile(path, metadata=md) as f:
                tbl = f.read_row_groups(
                    rgs, columns=[c for c in cols if c in names], use_threads=False
                )
            tbl = tbl.filter(pc.is_in(tbl.column("term"), value_set=pa.array(ts)))
            for t, n in zip(tbl.column("term").to_pylist(), tbl.column("n").to_pylist()):
                dfs[t] += n
            if shards is not None:
                tbl = tbl.filter(pa.array(np.isin(tbl.column("shard").to_numpy(), list(shards))))
            here = tbl.column("term").to_pylist()
            row_terms += here
            row_shards += tbl.column("shard").to_pylist()
            encs += enc_from_arrow(tbl, [t in need_pos for t in here])
    return dfs, fuse_rows(row_terms, row_shards, encs)


class SegmentIndex:
    """Reader handle over a built segment index directory.

    Holds memoized broadcasts; ``close()`` (or a ``with`` block) releases
    them. The handle is a snapshot: its DataFrames and its pyarrow reads
    (idf on the driver; posting rows and docids in the kernel tasks) all
    use the file listings taken when it opened, and a file a later
    compact or merge removed fails the read with FileNotFoundError
    instead of mixing generations."""

    def __init__(self, spark: SparkSession, path: str, isolate_session: bool = True):
        # Point-query session: same SparkContext, isolated SQLConf, AQE
        # off. A point query is ONE Spark job of one stage: idf comes from
        # a driver-side pyarrow read (term_info), and the segment-row
        # read, the shard kernels (which also map their lids to docids)
        # and the TakeOrderedAndProject tail run in the same task when the
        # kernel stage is sized to one task (query/wand.py _shard_stage). AQE
        # has nothing to adapt there, and its stage-by-stage
        # materialization adds fixed per-query latency (measured ~35-50
        # ms/query on the 20-query reference loop) and a job.
        # Builder-level conf (shuffle partitions, arrow, excluded rules)
        # is inherited by newSession(); only the AQE toggle differs, and
        # only for DataFrames built from this handle — corpus-scale work
        # (build/merge/compact/promote) reads its own paths on the
        # caller's session and keeps AQE.
        if isolate_session:
            q = spark.newSession()
            q.conf.set("spark.sql.adaptive.enabled", "false")
            spark = q
        self.spark = spark
        self.path = path
        with open(f"{path}/stats.json") as f:
            meta = json.load(f)
        self.stats = CorpusStats(meta["n_docs"], meta["avgdl"])
        self.n_buckets = meta["n_buckets"]
        self.n_shards = meta["n_shards"]
        self.stemmed = bool(meta.get("stemmed", False))
        self.codec_fmt = meta.get("codec", "vb")
        missing = [
            b
            for b in range(self.n_buckets)
            if (m := _read_manifest(path, f"bucket_{b}.json")) is None
            or m.get("status") != "complete"
        ]
        if missing:
            raise ValueError(f"index at {path} incomplete: buckets {missing[:8]}...")
        self.segments = spark.read.parquet(f"{path}/segments")
        self.term_stats = spark.read.parquet(f"{path}/term_stats")
        self.docmap = spark.read.parquet(f"{path}/docmap")
        self.term_stats_files = _snapshot_files(self.term_stats)
        self.docmap_files = _snapshot_files(self.docmap)
        # {bucket: segment files}: what every query task reads its rows from
        self.segment_files = files_by_bucket(_snapshot_files(self.segments))
        self._term_cache: dict[str, tuple[int, float] | None] = {}
        self.tombstones = load_tombstones(path)
        self._dead_bc = None
        self._scope_bcs: "OrderedDict[int, object]" = OrderedDict()

    def close(self) -> None:
        """Unpersist this handle's memoized tombstone and scope
        broadcasts. Idempotent; DataFrames built from the handle must not
        be evaluated afterwards."""
        for bc in [self._dead_bc, *self._scope_bcs.values()]:
            if bc is not None:
                bc.unpersist()
        self._dead_bc = None
        self._scope_bcs.clear()

    def __enter__(self) -> "SegmentIndex":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def dead_broadcast(self):
        """Tombstones translated to posting keys (shard << KEY_BITS) | lid
        and memoized as a Spark broadcast of one sorted int64 array (None
        when empty). A million tombstones is one ~8 MB broadcast shipped
        once per executor — never a per-task closure set."""
        if not self.tombstones:
            return None
        if self._dead_bc is None:
            from honeywell_search_engine_spark.index.docmap import doc_keys

            keys = doc_keys(self.docmap, self.tombstones)
            self._dead_bc = self.spark.sparkContext.broadcast(keys)
        return self._dead_bc

    def scope_broadcast(self, allowed_docids):
        """A query-time docid scope (the reference restricts every search
        to the caller's own documents — allowed_ids,
        backend/app/routers/search.py:99-116 / F2-F3) translated to one
        sorted posting-key array and broadcast, same mechanics as
        tombstones. Returns None for an unrestricted query.

        MEMOIZED per docid set (a caller's scope repeats across their
        query stream — round-2 advice: rebuilding the broadcast per query
        re-collected the translation every time). Small scopes only: the
        query layer (query/wand.py) routes scopes above SCOPE_INLINE_MAX
        through a docmap join grouped by shard instead, so this path never
        materializes a large scope on the driver."""
        if allowed_docids is None:
            return None
        # Keyed by the frozenset VALUE (frozensets hash AND compare by
        # content) — keying by hash() alone would let two distinct scopes
        # that collide on the 64-bit hash silently share a broadcast and
        # leak one caller's scoped results to another (round-3 advice).
        key = frozenset(int(d) for d in allowed_docids)
        if key in self._scope_bcs:
            self._scope_bcs.move_to_end(key)
            return self._scope_bcs[key]
        from honeywell_search_engine_spark.index.docmap import doc_keys

        bc = self.spark.sparkContext.broadcast(doc_keys(self.docmap, allowed_docids))
        self._scope_bcs[key] = bc
        if len(self._scope_bcs) > 64:  # bound driver+executor memory
            _, old = self._scope_bcs.popitem(last=False)
            old.unpersist()
        return bc

    def term_info(self, terms: list[str]) -> dict[str, tuple[int, float]]:
        """(df, idf) for the given terms (absent term => absent key).
        Driver-side memoized, and a miss runs no Spark job: it is a
        pyarrow read of the handle's term_stats files with ``term IN
        missing`` pushed into the row-group statistics of the
        term-sorted dictionary (the read ServingIndex.suggest does). The
        shard kernels read idf from their closure, so no query plan
        joins or scans the term dictionary."""
        missing = [t for t in dict.fromkeys(terms) if t not in self._term_cache]
        if missing:
            import pyarrow.dataset as ds

            tbl = ds.dataset(self.term_stats_files, format="parquet").to_table(
                columns=["term", "df", "idf"], filter=ds.field("term").isin(missing)
            )
            found = {r["term"]: (int(r["df"]), float(r["idf"])) for r in tbl.to_pylist()}
            for t in missing:
                self._term_cache[t] = found.get(t)
        return {t: v for t in terms if (v := self._term_cache[t]) is not None}


def index_report(spark: SparkSession, index_dir: str) -> "DataFrame":
    """Ops surface: one row per bucket joining the LIVE segment stats
    (terms, postings, payload bytes) with the persisted lineage manifest
    (checksum, fingerprint, build status) — the table an operator scans
    for skew (a hot bucket), staleness (fingerprint drift), or corruption
    (manifest checksum vs recomputed). One Spark job over the segment
    metadata columns; payload columns are length()-ed, never decoded."""
    seg = spark.read.parquet(f"{index_dir}/segments")
    live = (
        seg
        .groupBy("bucket")
        .agg(
            F.count_distinct("term").alias("n_terms"),
            F.count("*").alias("n_rows"),
            F.sum("n").alias("n_postings"),
            F.sum(
                F.length("deltas") + F.length("tfs") + F.length("doclens")
                + F.coalesce(F.length("positions"), F.lit(0))
            ).alias("payload_bytes"),
            F.bit_xor(
                F.xxhash64(*_checksum_cols(seg))
            ).alias("live_checksum"),
        )
    )
    man = []
    for name in os.listdir(f"{index_dir}/manifests"):
        if name.startswith("bucket_") and name.endswith(".json"):
            m = _read_manifest(index_dir, name) or {}
            man.append(
                (
                    int(name[len("bucket_"):-len(".json")]),
                    m.get("status", "missing"),
                    int(m.get("checksum", 0)),
                    m.get("input_fingerprint", ""),
                )
            )
    mdf = spark.createDataFrame(
        man, "bucket int, status string, manifest_checksum long, input_fingerprint string"
    )
    return (
        live.join(F.broadcast(mdf), "bucket", "full_outer")
        .withColumn(
            "checksum_ok", F.col("live_checksum") == F.col("manifest_checksum")
        )
        .orderBy("bucket")
    )
