"""Structured-Streaming ingest: AvailableNow drains exactly the new files,
delta postings match the batch-computed postings, manifests are written."""

import json
import os
import shutil

import pytest

from honeywell_search_engine_spark.index.corpus import (
    docs_from_pages,
    term_frequencies,
    tokenized_docs,
)
from honeywell_search_engine_spark.sources.pages import (
    PAGES_SCHEMA,
    generate_pages_pdf,
)
from honeywell_search_engine_spark.streaming.ingest import (
    delta_postings,
    stream_postings_delta,
)


def _write_slice(spark, pdf, lo, hi, path):
    os.makedirs(path, exist_ok=True)
    sl = spark.createDataFrame(pdf.iloc[lo:hi], schema=PAGES_SCHEMA)
    sl.coalesce(1).write.mode("append").parquet(path)


def test_incremental_ingest(spark, tmp_path):
    pdf = generate_pages_pdf(300)
    pages_dir = str(tmp_path / "pages_stream")
    out_dir = str(tmp_path / "delta_out")

    # first drop of files -> first drain
    _write_slice(spark, pdf, 0, 200, pages_dir)
    stream_postings_delta(spark, pages_dir, out_dir, n_buckets=8, n_shards=4)
    first_rows = delta_postings(spark, out_dir).count()
    assert first_rows > 0
    manifests = sorted(os.listdir(f"{out_dir}/manifests"))
    assert manifests
    m0 = json.load(open(f"{out_dir}/manifests/{manifests[0]}"))
    assert m0["status"] == "complete" and m0["rows"] > 0

    # second drop -> only the new files are processed (checkpointed offsets)
    _write_slice(spark, pdf, 200, 300, pages_dir)
    stream_postings_delta(spark, pages_dir, out_dir, n_buckets=8, n_shards=4)
    total_rows = delta_postings(spark, out_dir).count()
    assert total_rows > first_rows

    # delta postings (all batches unioned, occurrence rows with positions)
    # == batch-computed postings over the full corpus: identical
    # (term, docid, tf) multiset, and identical position streams
    from pyspark.sql import functions as F

    pages = spark.read.schema(PAGES_SCHEMA).parquet(pages_dir)
    exp = term_frequencies(tokenized_docs(docs_from_pages(pages)))
    got = (
        delta_postings(spark, out_dir)
        .groupBy("term", "docid")
        .agg(F.count("*").alias("tf"), F.sort_array(F.collect_list("pos")).alias("ps"))
    )
    sym_diff = (
        got.select("term", "docid", "tf")
        .exceptAll(exp.select("term", "docid", "tf"))
        .union(
            exp.select("term", "docid", "tf").exceptAll(
                got.select("term", "docid", "tf")
            )
        )
        .count()
    )
    assert sym_diff == 0
    # spot-check positions: every (term, docid) group's positions are the
    # posexplode indices of that term in the tokenized doc
    tok = tokenized_docs(docs_from_pages(pages)).select(
        "docid", F.posexplode("tokens").alias("pos", "term")
    ).groupBy("term", "docid").agg(F.sort_array(F.collect_list("pos")).alias("eps"))
    bad = got.join(tok, ["term", "docid"]).filter(F.col("ps") != F.col("eps")).count()
    assert bad == 0

    # idempotent re-run with nothing new: no new rows
    stream_postings_delta(spark, pages_dir, out_dir, n_buckets=8, n_shards=4)
    assert delta_postings(spark, out_dir).count() == total_rows


def test_merge_deltas_exact(spark, tmp_path):
    """Streamed deltas merged into a base index == a from-scratch build of
    the full corpus: bit-exact query results vs a full-corpus oracle."""
    from honeywell_search_engine_spark.index.corpus import docid_py
    from honeywell_search_engine_spark.index.maintenance import merge_deltas
    from honeywell_search_engine_spark.index.segments import SegmentIndex, build_segments
    from honeywell_search_engine_spark.oracle import OracleIndex
    from honeywell_search_engine_spark.query.wand import bm25_topk_wand
    from honeywell_search_engine_spark.sources.pages import marker_term

    pdf = generate_pages_pdf(400)
    base_dir = str(tmp_path / "pages_base")
    idx_dir = str(tmp_path / "idx")
    _write_slice(spark, pdf, 0, 250, base_dir)
    base = spark.read.schema(PAGES_SCHEMA).parquet(base_dir)
    build_segments(
        tokenized_docs(docs_from_pages(base)), idx_dir, base_dir,
        n_buckets=8, n_shards=4, buckets_per_job=8,
    )

    # stream the remaining 150 docs as a delta, then merge
    stream_dir = str(tmp_path / "pages_stream2")
    delta_dir = str(tmp_path / "delta2")
    _write_slice(spark, pdf, 250, 400, stream_dir)
    stream_postings_delta(spark, stream_dir, delta_dir, n_buckets=8, n_shards=4)
    summary = merge_deltas(spark, idx_dir, delta_dir)
    assert summary["docs_added"] > 0

    idx = SegmentIndex(spark, idx_dir)
    en = pdf[pdf.lang == "en"]
    oracle = OracleIndex.build([(docid_py(u), t) for u, t in zip(en.url, en.text)])
    assert idx.stats.n_docs == oracle.n_docs
    assert abs(idx.stats.avgdl - oracle.avgdl) < 1e-9
    for q in ("data", "data search", marker_term(0), marker_term(2)):
        exp = oracle.search(q, k=10)
        got = [
            (r["docid"], r["score"]) for r in bm25_topk_wand(idx, q, k=10).collect()
        ]
        assert got == exp, q

    # idempotence: re-running the merge with the same delta_dir is a no-op
    # (the batch registry remembers merged batches — tf can never double)
    before = _index_signature(spark, idx_dir)
    again = merge_deltas(spark, idx_dir, delta_dir)
    assert again["docs_added"] == 0
    assert _index_signature(spark, idx_dir) == before


def _index_signature(spark, idx_dir):
    """Logical identity of the queryable index state: (N, avgdl, an
    order-independent checksum of the REHYDRATED posting content
    (term, global docid, tf, doclen)). Merged indexes append lids instead
    of re-ranking (index/docmap.py), so segment BYTES legitimately differ
    from a from-scratch build while the logical index — and therefore every
    query result — is identical. The content is the segments' own, decoded
    to occurrence rows."""
    from pyspark.sql import functions as F

    from honeywell_search_engine_spark.index.segments import segment_occurrences

    with open(f"{idx_dir}/stats.json") as f:
        meta = json.load(f)
    dm = spark.read.parquet(f"{idx_dir}/docmap").select(
        "shard", F.col("local_id").alias("lid"), "docid"
    )
    tf = (
        segment_occurrences(spark.read.parquet(f"{idx_dir}/segments"))
        .join(dm, ["shard", "lid"])
        .groupBy("term", "docid")
        .agg(F.count("*").alias("tf"), F.first("doclen").alias("doclen"))
    )
    row = tf.agg(
        F.count("*").alias("rows"),
        F.bit_xor(F.xxhash64("term", "docid", "tf", "doclen")).alias("chk"),
    ).collect()[0]
    return (meta["n_docs"], meta["avgdl"], row["rows"], int(row["chk"] or 0))


@pytest.fixture(scope="module")
def merge_fixture(spark, tmp_path_factory):
    """Base index (160 docs) + streamed delta (80 docs) + a from-scratch
    full-corpus oracle index, built once per module."""
    from honeywell_search_engine_spark.index.segments import build_segments

    root = tmp_path_factory.mktemp("mergecrash")
    pdf = generate_pages_pdf(240)
    base_dir, stream_dir = str(root / "pages_base"), str(root / "pages_stream")
    delta_dir, full_dir = str(root / "delta"), str(root / "pages_full")
    _write_slice(spark, pdf, 0, 160, base_dir)
    _write_slice(spark, pdf, 160, 240, stream_dir)
    _write_slice(spark, pdf, 0, 240, full_dir)

    idx_tpl = str(root / "idx_template")
    base = spark.read.schema(PAGES_SCHEMA).parquet(base_dir)
    build_segments(
        tokenized_docs(docs_from_pages(base)), idx_tpl, base_dir,
        n_buckets=8, n_shards=4, buckets_per_job=8,
    )
    stream_postings_delta(spark, stream_dir, delta_dir, n_buckets=8, n_shards=4)

    idx_oracle = str(root / "idx_oracle")
    full = spark.read.schema(PAGES_SCHEMA).parquet(full_dir)
    build_segments(
        tokenized_docs(docs_from_pages(full)), idx_oracle, full_dir,
        n_buckets=8, n_shards=4, buckets_per_job=8,
    )
    return root, idx_tpl, delta_dir, idx_oracle


@pytest.mark.parametrize(
    "fail_at", ["staged", "invalidated", "mid_swap", "swapped"]
)
def test_merge_deltas_crash_resume(spark, merge_fixture, fail_at):
    """Kill the merge between each pair of durability steps; a plain re-run
    must converge to byte-identical segments vs a from-scratch full build."""
    from honeywell_search_engine_spark.index.maintenance import merge_deltas
    from honeywell_search_engine_spark.index.segments import SegmentIndex

    root, idx_tpl, delta_dir, idx_oracle = merge_fixture
    work = str(root / f"idx_crash_{fail_at}")
    shutil.copytree(idx_tpl, work)

    with pytest.raises(RuntimeError, match="injected failure"):
        merge_deltas(spark, work, delta_dir, _fail_at=fail_at)
    if fail_at in ("invalidated", "mid_swap"):
        # mid-commit: the index must REFUSE to open, not serve stale bytes
        with pytest.raises(ValueError, match="incomplete"):
            SegmentIndex(spark, work)

    summary = merge_deltas(spark, work, delta_dir)  # plain re-run resumes
    assert summary["docs_added"] > 0 or fail_at == "swapped"
    assert _index_signature(spark, work) == _index_signature(spark, idx_oracle)
    SegmentIndex(spark, work)  # opens clean


def test_windowed_counts_stream_equals_batch(spark, tmp_path):
    """The watermarked streaming windowed aggregation (AvailableNow) over
    the event files equals the batch windowed group-by over the same data
    — deterministic replay, the property watermarked state must preserve."""
    from honeywell_search_engine_spark.streaming.windows import (
        run_windowed_counts_stream,
        windowed_event_counts,
    )

    events_dir = "/root/testdata/sf0.001"
    out = str(tmp_path / "win_out")
    # copy only the events file into a clean stream-source dir
    src_dir = str(tmp_path / "events_src")
    os.makedirs(src_dir)
    shutil.copy(f"{events_dir}/events.parquet", f"{src_dir}/events.parquet")

    run_windowed_counts_stream(spark, src_dir, out)
    got = (
        spark.read.parquet(f"{out}/windows")
        .orderBy("window_start", "event_type")
        .collect()
    )
    from pyspark.sql import functions as F

    batch = spark.read.parquet(src_dir).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )  # the stream path casts NTZ -> TIMESTAMP for the watermark
    exp = (
        windowed_event_counts(batch)
        .orderBy("window_start", "event_type")
        .collect()
    )
    assert len(got) > 0 and got == exp


def test_full_lifecycle_build_delete_compact_merge(spark, tmp_path):
    """The whole index lifecycle chained: build -> tombstone -> compact ->
    streamed delta -> merge -> queries bit-exact vs an oracle of the final
    corpus (original docs minus deletions plus streamed docs)."""
    from honeywell_search_engine_spark.index.corpus import docid_py
    from honeywell_search_engine_spark.index.maintenance import (
        compact,
        delete_docs,
        merge_deltas,
    )
    from honeywell_search_engine_spark.index.segments import SegmentIndex, build_segments
    from honeywell_search_engine_spark.oracle import OracleIndex
    from honeywell_search_engine_spark.query.wand import bm25_topk_phrase, bm25_topk_wand
    from honeywell_search_engine_spark.sources.pages import marker_term

    pdf = generate_pages_pdf(300)
    base_dir, idx_dir = str(tmp_path / "pages"), str(tmp_path / "idx")
    _write_slice(spark, pdf, 0, 200, base_dir)
    base = spark.read.schema(PAGES_SCHEMA).parquet(base_dir)
    build_segments(
        tokenized_docs(docs_from_pages(base)), idx_dir, base_dir,
        n_buckets=8, n_shards=4, buckets_per_job=8,
    )

    # tombstone 3 hits of a head query, then compact
    idx = SegmentIndex(spark, idx_dir)
    victims = [
        r["docid"] for r in bm25_topk_wand(idx, "data", k=3).collect()
    ]
    assert len(victims) == 3
    delete_docs(idx_dir, victims, reason="lifecycle")
    compact(spark, idx_dir)

    # stream the remaining 100 docs and merge them in
    stream_dir, delta_dir = str(tmp_path / "pages2"), str(tmp_path / "delta")
    _write_slice(spark, pdf, 200, 300, stream_dir)
    stream_postings_delta(spark, stream_dir, delta_dir, n_buckets=8, n_shards=4)
    summary = merge_deltas(spark, idx_dir, delta_dir)
    assert summary["docs_added"] > 0

    # oracle over the FINAL corpus
    en = pdf[pdf.lang == "en"]
    final = [
        (docid_py(u), t)
        for u, t in zip(en.url, en.text)
        if docid_py(u) not in set(victims)
    ]
    oracle = OracleIndex.build(final)
    idx = SegmentIndex(spark, idx_dir)
    assert idx.stats.n_docs == oracle.n_docs
    assert abs(idx.stats.avgdl - oracle.avgdl) < 1e-9
    for q in ("data", "data search", marker_term(1), "big data table"):
        exp = oracle.search(q, k=10)
        got = [
            (r["docid"], r["score"]) for r in bm25_topk_wand(idx, q, k=10).collect()
        ]
        assert got == exp, q
    # phrase queries still exact after the whole lifecycle (positions
    # survive compact + merge)
    from honeywell_search_engine_spark.functions.analyzer import analyze

    ph = " ".join(analyze(en.text.iloc[0])[:2])
    assert [
        (r["docid"], r["score"]) for r in bm25_topk_phrase(idx, ph, k=10).collect()
    ] == oracle.search_phrase(ph, k=10)


def test_merge_deltas_reingest_replaces_documents(spark, tmp_path):
    """Regression (round-2 advice, maintenance.merge_deltas): re-ingesting
    an EXISTING docid must REPLACE its occurrence rows and refresh its
    doclen — not union on top (which double-counted tf, duplicated
    positions, and left the docmap doclen stale). Two re-ingest waves in
    separate delta batches also pin latest-batch-wins. Merged index ==
    from-scratch build of the UPDATED corpus: N, avgdl, BM25 scores and
    phrase positions all exact."""
    from honeywell_search_engine_spark.index.corpus import docid_py
    from honeywell_search_engine_spark.index.maintenance import merge_deltas
    from honeywell_search_engine_spark.index.segments import SegmentIndex, build_segments
    from honeywell_search_engine_spark.oracle import OracleIndex
    from honeywell_search_engine_spark.query.wand import bm25_topk_phrase, bm25_topk_wand
    from honeywell_search_engine_spark.sources.pages import marker_term

    pdf = generate_pages_pdf(300)
    base_dir, idx_dir = str(tmp_path / "pages_base"), str(tmp_path / "idx")
    _write_slice(spark, pdf, 0, 300, base_dir)
    base = spark.read.schema(PAGES_SCHEMA).parquet(base_dir)
    build_segments(
        tokenized_docs(docs_from_pages(base)), idx_dir, base_dir,
        n_buckets=8, n_shards=4, buckets_per_job=8,
    )

    stream_dir, delta_dir = str(tmp_path / "pages_re"), str(tmp_path / "delta_re")
    # wave 1: re-crawl docs 0..20 with drifted text + 10 genuinely new urls
    wave1 = pdf.iloc[0:20].copy()
    wave1["text"] = wave1["text"].astype(str) + " zzalpha zzbeta zzalpha"
    fresh = pdf.iloc[40:50].copy()
    fresh["url"] = fresh["url"].astype(str) + "?v=2"
    import pandas as pd  # noqa: F811

    w1 = pd.concat([wave1, fresh], ignore_index=True)
    os.makedirs(stream_dir, exist_ok=True)
    spark.createDataFrame(w1, schema=PAGES_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(stream_dir)
    stream_postings_delta(spark, stream_dir, delta_dir, n_buckets=8, n_shards=4)
    # wave 2 (later batch): docs 0..10 re-crawled AGAIN — this version wins
    wave2 = pdf.iloc[0:10].copy()
    wave2["text"] = wave2["text"].astype(str) + " zzgamma zzdelta"
    spark.createDataFrame(wave2, schema=PAGES_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(stream_dir)
    stream_postings_delta(spark, stream_dir, delta_dir, n_buckets=8, n_shards=4)

    summary = merge_deltas(spark, idx_dir, delta_dir)
    assert summary["docs_added"] == int((fresh.lang == "en").sum())

    # expected corpus: wave2 for 0..10, wave1 for 10..20, base for the
    # rest, plus the fresh docs
    updated = pd.concat(
        [wave2, wave1.iloc[10:20], pdf.iloc[20:300], fresh], ignore_index=True
    )
    en = updated[updated.lang == "en"]
    oracle = OracleIndex.build([(docid_py(u), t) for u, t in zip(en.url, en.text)])
    idx = SegmentIndex(spark, idx_dir)
    assert idx.stats.n_docs == oracle.n_docs
    assert abs(idx.stats.avgdl - oracle.avgdl) < 1e-9
    for q in ("data", "zzalpha", "zzgamma", marker_term(0), "data search"):
        exp = oracle.search(q, k=10)
        got = [
            (r["docid"], r["score"]) for r in bm25_topk_wand(idx, q, k=10).collect()
        ]
        assert got == exp, q
    # positions replaced, not appended: phrase over the NEW text matches
    # the oracle, and the wave-1 phrase no longer hits the wave-2 docs
    for ph in ("zzalpha zzbeta", "zzgamma zzdelta"):
        exp = oracle.search_phrase(ph, k=20)
        got = [
            (r["docid"], r["score"])
            for r in bm25_topk_phrase(idx, ph, k=20).collect()
        ]
        assert got == exp, ph

    # idempotence still holds with re-ingests in the registry
    again = merge_deltas(spark, idx_dir, delta_dir)
    assert again["docs_added"] == 0
