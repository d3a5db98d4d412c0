"""Index maintenance: document deletion (tombstones) + segment compaction.

Reference retraction path (SURVEY.md §3.3): DELETE /api/documents/{id}
cascades Qdrant delete + MinIO remove + Postgres FK cascade
(reference upload_router.py:258-293). Segments here are immutable, so
deletion is two-phase, lake-style:

1. ``delete_docs`` — O(1): append a tombstone manifest; every reader
   filters tombstoned docids at query time (the WAND kernels take the
   broadcast tombstone set).
2. ``compact`` — periodic: rewrite segments dropping dead postings.
   Only the lists that hold a dead key are re-encoded (decode -> mask ->
   the build's encoder, inside mapInArrow); every other list passes
   through as its input row, bytes unchanged. Then recompute term_stats
   from the surviving segment metadata (df = Σn, ctf = Σctf — no raw
   posting scan needed), refresh N/avgdl from the doclen table, clear
   tombstones. Per-bucket manifests are refreshed with a new generation
   number so resume semantics survive compaction.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
from pyspark.sql import SparkSession, functions as F

from honeywell_search_engine_spark.index import codec
from honeywell_search_engine_spark.index.segments import (
    PA_SEGMENT_SCHEMA,
    SEGMENT_SCHEMA,
    _invalidate_buckets,
    _read_manifest,
    _write_manifest,
    bucket_checksums,
    bucket_col,
    decode_chunks,
    decode_occurrences,
    enc_from_arrow,
    encode_pending_buckets,
    input_fingerprint,
    make_segment_encoder,
    segment_occurrences,
    write_occurrences,
    write_segments,
    write_term_stats,
)


def delete_docs(index_dir: str, docids: list[int], reason: str = "") -> str:
    """Tombstone the given docids. Returns the tombstone file path."""
    tdir = os.path.join(index_dir, "tombstones")
    os.makedirs(tdir, exist_ok=True)
    name = f"ts_{int(time.time() * 1000)}_{len(os.listdir(tdir))}.json"
    path = os.path.join(tdir, name)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"docids": sorted(int(d) for d in docids), "reason": reason}, f)
    os.replace(tmp, path)
    return path


def _segment_batch(batch):
    """A scanned segment-row batch as a PA_SEGMENT_SCHEMA batch, its rows
    as they are: the columns in schema order, and null for a column the
    index predates (positions, p_off, fmt)."""
    import pyarrow as pa

    names = set(batch.schema.names)
    return pa.RecordBatch.from_arrays(
        [batch.column(f.name).cast(f.type) if f.name in names
         else pa.nulls(batch.num_rows, f.type) for f in PA_SEGMENT_SCHEMA],
        schema=PA_SEGMENT_SCHEMA,
    )


def _holds_key(batch, keys: np.ndarray) -> np.ndarray:
    """Per row of a batch of segment rows: does its list hold a
    posting key of the sorted `keys`? The lists' docids decode in one
    ``codec.decode_concat`` per ``decode_chunks`` range (positions
    unread) and meet `keys` in one ``np.isin``."""
    encs = enc_from_arrow(batch, positions=False)
    ns = batch.column("n").to_numpy()
    shards = batch.column("shard").to_numpy()
    hit = np.zeros(len(encs), dtype=bool)
    for lo, hi in decode_chunks(ns):
        pl, _ = codec.decode_concat(encs[lo:hi])
        dead = np.isin(codec.keys_of(np.repeat(shards[lo:hi], ns[lo:hi]), pl.docids), keys)
        hit[lo:hi] = np.logical_or.reduceat(dead, np.cumsum(ns[lo:hi]) - ns[lo:hi])
    return hit


def _rewrite_kernel(dead_bc, n_buckets: int):
    """mapInArrow body: drop the postings of tombstoned lids from the
    segment rows. Per batch, the rows whose list holds no dead key
    (``_holds_key``) pass through as they are; the others decode to
    occurrence rows (``decode_occurrences``), lose their dead occurrences
    and re-encode through the build's encoder (``make_segment_encoder``),
    one encode per codec so each list keeps its own fmt. A list left
    with no postings drops out. A touched list without positions (an
    index from before they joined the schema) raises decode_occurrences'
    ValueError. dead_bc: Spark broadcast of the sorted tombstoned posting
    keys (shard << KEY_BITS) | lid — one copy per executor, not a
    per-task closure set."""

    def live(touched, dead):
        import pyarrow as pa

        for occ in decode_occurrences([touched]):
            keys = codec.keys_of(occ.column("shard").to_numpy(), occ.column("lid").to_numpy())
            yield occ.filter(pa.array(~np.isin(keys, dead)))

    def rewrite(batches):
        import pyarrow as pa

        dead = dead_bc.value
        for batch in batches:
            hit = _holds_key(batch, dead)
            if not hit.all():
                yield _segment_batch(batch.filter(pa.array(~hit)))
            tags = (batch.column("fmt").fill_null(codec.FMT_TAGS[codec.FMT_VB]).to_numpy()
                    if "fmt" in batch.schema.names
                    else np.full(batch.num_rows, codec.FMT_TAGS[codec.FMT_VB]))
            for tag in np.unique(tags[hit]):
                encode = make_segment_encoder(n_buckets, codec.FMT_FROM_TAG[int(tag)])
                yield from encode(live(batch.filter(pa.array(hit & (tags == tag))), dead))

    return rewrite


_COMPACT_DIRS = ("segments", "term_stats", "docmap")


def _commit_stats(index_dir: str, meta: dict, src: dict) -> None:
    """Write stats.json with the n_docs, avgdl and exact Σdoclen journaled
    in `src` — the one stats writer of compact, merge and promote. A
    journal that predates `sum_doclen` (r7) DROPS the stale value:
    GenerationSet trusts it as exact. An index written while an occurrence
    table was a second durable copy loses that table (postings/) and its
    multi-file marker here; nothing reads either any more."""
    meta.update({"n_docs": src["n_docs"], "avgdl": src["avgdl"]})
    if "sum_doclen" in src:
        meta["sum_doclen"] = src["sum_doclen"]
    else:
        meta.pop("sum_doclen", None)
    meta.pop("occ_multifile_buckets", None)
    shutil.rmtree(f"{index_dir}/postings", ignore_errors=True)
    with open(f"{index_dir}/stats.json", "w") as f:
        json.dump(meta, f)


def _repair_dir_swaps(index_dir: str) -> None:
    """Restore any artifact dir a crashed swap left missing: rename-with-
    backup (_swap_bucket_dir) can only strand a dir between its two renames,
    in which case the .bak holds the previous state."""
    for name in _COMPACT_DIRS:
        dst = f"{index_dir}/{name}"
        bak = dst + ".bak"
        if not os.path.isdir(dst) and os.path.isdir(bak):
            os.rename(bak, dst)


def compact(spark: SparkSession, index_dir: str, _fail_at: str | None = None) -> dict:
    """Fold tombstones into the segments. Returns a summary dict.

    Crash-safe: all artifacts are staged to *_new first (the live index is
    untouched and still readable with query-time tombstone filtering), then
    swapped via rename-with-backup; tombstones are cleared LAST, so a
    re-invocation after a crash at ANY point recomputes from whatever state
    survived and converges — masking already-removed docs is a no-op
    everywhere (kill-point tests in tests/test_maintenance.py).
    `_fail_at` ("staged" | "mid_swap") is the test-only injection hook."""
    _repair_dir_swaps(index_dir)
    st = _read_manifest(index_dir, "compact_state.json")
    if st and st.get("status") == "staged":
        # a prior compaction crashed after staging: finish its commit
        with open(f"{index_dir}/stats.json") as f:
            meta = json.load(f)
        return _finish_compact(spark, index_dir, meta, st)
    # snapshot the tombstone FILES first, then read exactly those: the
    # staged computation covers precisely this set, and _finish_compact
    # removes ONLY these files — a delete_docs racing (or landing between
    # a crash at 'staged' and the resume) keeps its tombstone for the
    # next compaction instead of being silently wiped (round-2 advice)
    tdir = os.path.join(index_dir, "tombstones")
    ts_files = (
        sorted(f for f in os.listdir(tdir) if f.endswith(".json"))
        if os.path.isdir(tdir)
        else []
    )
    dead: set[int] = set()
    for fn in ts_files:
        with open(os.path.join(tdir, fn)) as f:
            dead.update(json.load(f)["docids"])
    if not dead:
        return {"compacted": 0}

    with open(f"{index_dir}/stats.json") as f:
        meta = json.load(f)

    # the dead docs' posting keys, translated ONCE from the one tombstone
    # frame (the docmap anti-join below reuses it): they mask the segment
    # rewrite, and their count is the number of docs removed — N drops
    # only by tombstones that actually exist (bulk tombstone sets may hold
    # already-deleted or never-ingested ids, which have no docmap row),
    # and each docmap row has its own (shard, lid) key. Surviving docs keep
    # their lids (the local-id space may gain holes; posting deltas stay
    # valid).
    from honeywell_search_engine_spark.index.docmap import doc_keys, docid_frame

    docmap = spark.read.parquet(f"{index_dir}/docmap")
    dead_df = docid_frame(spark, dead)
    dead_keys = doc_keys(docmap, dead_df)
    n_removed = int(dead_keys.size)
    # refresh corpus stats from the docmap minus the dead docs.
    # left-anti join against a tombstone DataFrame — NOT ~isin([literals]):
    # a million tombstones must not become a million-node Catalyst
    # expression. The dead side is broadcast (small relative to the corpus).
    alive = docmap.join(F.broadcast(dead_df), "docid", "left_anti")
    alive.write.mode("overwrite").parquet(f"{index_dir}/docmap_new")
    row = spark.read.parquet(f"{index_dir}/docmap_new").agg(
        F.sum("doclen").alias("s")
    ).collect()[0]
    new_n = meta["n_docs"] - n_removed
    new_avgdl = float(row["s"] or 0) / new_n if new_n else 0.0

    # rewrite segments: lists holding a dead key decode, drop it and
    # re-encode; the rest pass through
    dead_bc = spark.sparkContext.broadcast(dead_keys)
    write_segments(
        spark.read.parquet(f"{index_dir}/segments")
        .mapInArrow(_rewrite_kernel(dead_bc, meta["n_buckets"]), schema=SEGMENT_SCHEMA),
        f"{index_dir}/segments_new",
    )
    n_postings = write_term_stats(
        spark.read.parquet(f"{index_dir}/segments_new"),
        new_n,
        f"{index_dir}/term_stats_new",
    )

    # journal the post-compaction stats BEFORE mutating anything: once the
    # swap starts, the dead docs leave the docmap and a rerun could no
    # longer recompute n_removed — the journal carries the answer across
    # any crash (tests kill between every step)
    st = {
        "status": "staged",
        "n_docs": new_n,
        "avgdl": new_avgdl,
        "sum_doclen": int(row["s"] or 0),
        "n_postings": n_postings,
        "n_removed": n_removed,
        "tombstone_files": ts_files,
    }
    _write_manifest(index_dir, "compact_state.json", st)
    if _fail_at == "staged":
        raise RuntimeError("injected failure at staged")
    return _finish_compact(spark, index_dir, meta, st, _fail_at)


def _finish_compact(
    spark: SparkSession, index_dir: str, meta: dict, st: dict,
    _fail_at: str | None = None,
) -> dict:
    """Commit a staged compaction: swap each artifact dir (rename-with-
    backup — every crash point repaired by _repair_dir_swaps + rerun),
    rewrite stats from the journal, refresh manifests, clear tombstones,
    mark the journal complete. Idempotent."""
    for i, name in enumerate(_COMPACT_DIRS):
        _swap_bucket_dir(f"{index_dir}/{name}", f"{index_dir}/{name}_new")
        if i == 0 and _fail_at == "mid_swap":
            raise RuntimeError("injected failure at mid_swap")
    _commit_stats(index_dir, meta, st)
    buckets = list(range(meta["n_buckets"]))
    chks = bucket_checksums(spark, f"{index_dir}/segments", buckets)
    gen = int(time.time())
    for b in buckets:
        prev = _read_manifest(index_dir, f"bucket_{b}.json") or {}
        _write_manifest(
            index_dir,
            f"bucket_{b}.json",
            {**prev, **chks[b], "status": "complete", "generation": gen},
        )
    # the swapped-in term_stats counts only surviving postings; a journal
    # that predates the field falls back to the fresh bucket checksums' Σn
    n_postings = st.get("n_postings", sum(c["postings"] for c in chks.values()))
    fin = _read_manifest(index_dir, "finalize.json") or {}
    _write_manifest(
        index_dir,
        "finalize.json",
        {**fin, "status": "complete", "n_postings": int(n_postings)},
    )
    # remove ONLY the tombstone files this compaction folded in (recorded
    # at staging) — tombstones issued afterwards, including during a
    # crash/resume gap, stay for the next compaction instead of being
    # resurrected-by-deletion (round-2 advice)
    tdir = f"{index_dir}/tombstones"
    folded = st.get("tombstone_files")
    if folded is None:
        shutil.rmtree(tdir, ignore_errors=True)  # pre-journal-format state
    else:
        for fn in folded:
            try:
                os.remove(os.path.join(tdir, fn))
            except FileNotFoundError:
                pass  # idempotent re-run
    _write_manifest(index_dir, "compact_state.json", {"status": "complete"})
    return {
        "compacted": st["n_removed"],
        "n_docs": st["n_docs"],
        "avgdl": st["avgdl"],
    }


def _read_merge_state(index_dir: str) -> dict:
    st = _read_manifest(index_dir, "merge_state.json")
    return st or {"merged_batches": {}, "inflight": None}


def _write_merge_state(index_dir: str, state: dict) -> None:
    # ONE atomic file carries both the merged-batch registry and the
    # inflight journal — no cross-file ordering hazards
    _write_manifest(index_dir, "merge_state.json", state)


def _delta_batch_registry(delta_dir: str) -> dict[str, dict]:
    """batch_key -> manifest for every complete delta batch. The key binds
    batch id AND content checksum, so a batch is never merged twice and a
    changed batch (shouldn't happen — deltas are immutable) reads as new."""
    mdir = os.path.join(delta_dir, "manifests")
    out: dict[str, dict] = {}
    if not os.path.isdir(mdir):
        return out
    for fn in sorted(os.listdir(mdir)):
        if fn.startswith("batch_") and fn.endswith(".json"):
            with open(os.path.join(mdir, fn)) as f:
                m = json.load(f)
            if m.get("status") == "complete":
                out[f"{m['batch_id']}:{m['checksum']}"] = m
    return out


def _swap_bucket_dir(dst: str, src: str) -> None:
    """Crash-tolerant directory swap: every intermediate state is repaired
    by simply calling this again (decidable from which dirs exist)."""
    bak = dst + ".bak"
    if os.path.isdir(src):
        if os.path.isdir(dst):
            if os.path.isdir(bak):
                shutil.rmtree(bak)
            os.rename(dst, bak)
        os.rename(src, dst)
    if os.path.isdir(bak) and os.path.isdir(dst):
        shutil.rmtree(bak)


def merge_deltas(
    spark: SparkSession,
    index_dir: str,
    delta_dir: str,
    _fail_at: str | None = None,
) -> dict:
    """Fold streaming posting deltas (streaming/ingest.py) into the main
    index, exactly, idempotently, and crash-safely.

    Upsert semantics: a NEW docid gets an appended lid; a RE-INGESTED
    docid (a re-crawled url) keeps its lid but its old occurrence rows are
    replaced wholesale and its doclen refreshed — never unioned on top
    (that would double tf). If a docid appears in several pending batches,
    the newest batch wins.

    New documents shift N/avgdl and per-term df — scores of EVERY document
    legitimately change. Segments stay cheap to update because:
    - block score bounds are stats-independent (codec.bm25_u_bound), so
      untouched buckets stay validly prunable under the new stats;
    - exact scores are always computed from stored (tf, doclen) with the
      CURRENT broadcast stats, so only buckets whose posting lists gained
      rows need re-encoding;
    - term_stats/idf are re-derived from segment metadata at finalize.

    Durability protocol (manifests/merge_state.json is ONE atomic json that
    holds both the merged-batch registry and the inflight journal):

    1. pending = complete delta batches (id:checksum) not in the registry;
       no pending -> no-op. Re-running with an already-merged delta_dir is
       a no-op — tf can never double.
    2. STAGE (journal "staging" -> "staged"): the affected buckets'
       segment rows are decoded to occurrence rows (segment_occurrences),
       a re-ingested doc's old rows dropped, the delta's rows added, and
       the result written through write_occurrences to the scratch
       postings_merged/; the forward index goes to docmap_staged/ (new
       docs get lids APPENDED after each shard's max — existing posting
       lists never shift). The live index is NOT touched. A crash here
       restages from scratch.
    3. COMMIT (journal "staged" -> "swapped"): invalidate affected bucket
       manifests + finalize marker FIRST (readers now refuse the index
       instead of trusting stale manifests), then swap the docmap dir via
       rename-with-backup (_swap_bucket_dir — every crash point is
       repaired by re-running), then rewrite stats.json from
       journal-recorded values.
    4. ENCODE (journal "swapped" -> registry updated, inflight cleared):
       encode_pending_buckets re-encodes exactly the invalidated buckets
       from postings_merged/, refinalizes term_stats (already idempotent)
       and deletes the scratch.

    Re-invoking merge_deltas after a crash at ANY point resumes from the
    journal and converges to the same bytes as an uninterrupted run
    (tests/test_maintenance.py kill-between-steps tests).

    shard/bucket are RECOMPUTED here from the target index's stats.json —
    a delta streamed with a different modulus can't corrupt the layout.
    `_fail_at` is a test-only fault-injection point ("staged",
    "invalidated", "mid_swap", "swapped")."""
    from honeywell_search_engine_spark.streaming.ingest import delta_postings

    def _boom(point: str) -> None:
        if _fail_at == point:
            raise RuntimeError(f"injected failure at {point}")

    with open(f"{index_dir}/stats.json") as f:
        meta = json.load(f)
    n_shards, n_buckets = meta["n_shards"], meta["n_buckets"]

    state = _read_merge_state(index_dir)
    registry = _delta_batch_registry(delta_dir)
    pending_keys = sorted(k for k in registry if k not in state["merged_batches"])
    inflight = state.get("inflight")
    if inflight and inflight.get("delta_dir") != delta_dir:
        raise ValueError(
            f"merge of {inflight['delta_dir']} is in flight; re-run it first"
        )
    if not pending_keys and not inflight:
        return {"docs_added": 0, "affected_buckets": 0, "n_docs": meta["n_docs"]}

    staged_dir = f"{index_dir}/postings_merged"
    docmap_staged = f"{index_dir}/docmap_staged"

    # ---- STAGE ------------------------------------------------------------
    if inflight is None or inflight["status"] == "staging":
        batch_ids = [int(k.split(":", 1)[0]) for k in pending_keys]
        state["inflight"] = inflight = {
            "status": "staging",
            "delta_dir": delta_dir,
            "batch_keys": pending_keys,
            "batch_ids": batch_ids,
        }
        _write_merge_state(index_dir, state)

        # delta layout columns are untrusted: recompute shard/bucket from
        # THIS index's moduli. Latest-batch-wins per docid: a docid
        # re-ingested across pending batches keeps only its NEWEST
        # occurrence rows (one window over the small delta slice).
        from pyspark.sql import Window

        w_doc = Window.partitionBy("docid")
        delta = (
            delta_postings(spark, delta_dir)
            .filter(F.col("delta_batch").isin(batch_ids))
            .select("docid", "doclen", "term", "pos", "delta_batch")
            .withColumn("_mx", F.max("delta_batch").over(w_doc))
            .filter(F.col("delta_batch") == F.col("_mx"))
            .drop("_mx", "delta_batch")
            .withColumn("bucket", bucket_col(F.col("term"), n_buckets))
        )
        affected = sorted(
            r["bucket"] for r in delta.select("bucket").distinct().collect()
        )
        # ---- docmap: new docs get lids APPENDED after each shard's max —
        # existing posting lists never shift (docmap.append_local_ids).
        # A RE-INGESTED docid (already in the docmap) keeps its lid but
        # REPLACES its document: its base occurrence rows are dropped
        # (every bucket they touch joins the affected set) and its doclen
        # is refreshed — tf never double-counts (round-2 advice). The
        # re-ingested set is delta-sized, i.e. small relative to the
        # corpus, so it rides broadcast joins like tombstones do.
        from honeywell_search_engine_spark.index.docmap import append_local_ids

        base_dm = spark.read.parquet(f"{index_dir}/docmap")
        segments = spark.read.parquet(f"{index_dir}/segments")
        delta_docs = delta.groupBy("docid").agg(F.first("doclen").alias("doclen"))
        new_docs = delta_docs.join(base_dm.select("docid"), "docid", "left_anti")
        reingested = delta_docs.join(base_dm.select("docid"), "docid", "left_semi")
        n_reingested = reingested.count()
        new_rows = append_local_ids(base_dm, new_docs, n_shards)
        n_added = new_rows.count()
        re_pairs = None
        if n_reingested:
            dm_out = (
                base_dm.join(
                    F.broadcast(
                        reingested.select("docid", F.col("doclen").alias("_new_dl"))
                    ),
                    "docid",
                    "left",
                )
                .withColumn(
                    "doclen",
                    F.coalesce(F.col("_new_dl").cast("long"), F.col("doclen")),
                )
                .drop("_new_dl")
            )
            re_pairs = (
                base_dm.join(
                    F.broadcast(reingested.select("docid")), "docid", "left_semi"
                ).select("shard", F.col("local_id").alias("lid"))
            )
            extra = [
                r["bucket"]
                for r in segment_occurrences(segments)
                .join(F.broadcast(re_pairs), ["shard", "lid"], "left_semi")
                .select("bucket")
                .distinct()
                .collect()
            ]
            affected = sorted(set(affected) | set(extra))
        else:
            dm_out = base_dm
        dm_out.unionByName(new_rows).write.mode("overwrite").parquet(docmap_staged)
        staged_dm = spark.read.parquet(docmap_staged)

        # delta occurrence rows -> lid space, matching base layout (a
        # re-ingested docid joins to its EXISTING lid; its stale base
        # rows were anti-joined away above)
        occ_delta = delta.join(
            staged_dm.select("docid", "shard", F.col("local_id").alias("lid")),
            "docid",
        ).select("lid", "doclen", "term", "shard", "bucket", "pos")
        base = segment_occurrences(
            segments.filter(F.col("bucket").isin(affected))
        ).select("lid", "doclen", "term", "shard", "bucket", "pos")
        if re_pairs is not None:
            base = base.join(F.broadcast(re_pairs), ["shard", "lid"], "left_anti")
        write_occurrences(base.unionByName(occ_delta), staged_dir)
        srow = staged_dm.agg(F.sum("doclen").alias("s")).collect()[0]
        new_n = meta["n_docs"] + n_added
        new_avgdl = float(srow["s"] or 0) / new_n if new_n else 0.0
        inflight.update(
            {
                "status": "staged",
                "affected_buckets": affected,
                "docs_added": n_added,
                "n_docs": new_n,
                "avgdl": new_avgdl,
                "sum_doclen": int(srow["s"] or 0),
            }
        )
        _write_merge_state(index_dir, state)
    _boom("staged")

    # ---- COMMIT -----------------------------------------------------------
    if inflight["status"] == "staged":
        _invalidate_buckets(index_dir, inflight["affected_buckets"])
        _boom("invalidated")
        if os.path.isdir(docmap_staged):
            _swap_bucket_dir(f"{index_dir}/docmap", docmap_staged)
        _boom("mid_swap")
        _commit_stats(index_dir, meta, inflight)
        inflight["status"] = "swapped"
        _write_merge_state(index_dir, state)
    _boom("swapped")

    # ---- ENCODE + register --------------------------------------------------
    fp = input_fingerprint(spark, delta_dir)
    encode_pending_buckets(spark, index_dir, fp, occ_path=staged_dir)
    for k in inflight["batch_keys"]:
        state["merged_batches"][k] = {"delta_dir": delta_dir}
    result = {
        "docs_added": inflight["docs_added"],
        "affected_buckets": len(inflight["affected_buckets"]),
        "n_docs": inflight["n_docs"],
    }
    state["inflight"] = None
    _write_merge_state(index_dir, state)
    return result
