"""Segment file layout (index/segments.py ``write_segments``): every
writer — build, build_generation, promote_generation, merge_deltas and
compact — leaves each bucket file sorted by (term, shard) in row groups
of at most SEGMENT_ROW_GROUP_ROWS rows with `term` min/max statistics,
so the one posting-row read (``read_term_rows``: a cold serving read, a
Spark query task) decodes only the row groups that can hold one of the
file's bucket's query terms. Indexes written before the layout (one
unsorted row group per bucket file, v1 pages) open and answer the same,
and the next rewrite of a bucket clusters it."""

import glob
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from honeywell_search_engine_spark.index import segments as S
from honeywell_search_engine_spark.index.corpus import docid_py, docs_from_pages, tokenized_docs
from honeywell_search_engine_spark.index.maintenance import compact, delete_docs, merge_deltas
from honeywell_search_engine_spark.index.promote import build_generation, promote_generation
from honeywell_search_engine_spark.oracle import OracleIndex
from honeywell_search_engine_spark.query import wand as W
from honeywell_search_engine_spark.query.generations import GenerationSet
from honeywell_search_engine_spark.query.local import ServingIndex
from honeywell_search_engine_spark.sources.pages import PAGES_SCHEMA, generate_pages_pdf

N_BUCKETS, N_SHARDS = 4, 4
CAP = 16  # row cap of the test indexes: many row groups per bucket file
STEPS = ("build", "generation", "promote", "merge", "compact")
QUERY = ["data", "search"]
SPREAD = ["crawl", "data", "page", "search", "web"]  # every bucket of the four


def _write_pages(spark, pdf, lo, hi, path):
    spark.createDataFrame(pdf.iloc[lo:hi], schema=PAGES_SCHEMA).coalesce(1).write.mode(
        "overwrite").parquet(path)


def _oracle(pdf, lo, hi, dead=()):
    en = pdf.iloc[lo:hi]
    en = en[en.lang == "en"]
    return OracleIndex.build([(docid_py(u), t) for u, t in zip(en.url, en.text)
                              if docid_py(u) not in dead])


@pytest.fixture(scope="module")
def life(spark, tmp_path_factory):
    """{step: (index dir, oracle)} for an index taken through build (docs
    0..250), build_generation (250..350) + promote_generation,
    merge_deltas (a streamed delta of 350..400) and delete + compact, all
    written with the row cap at CAP; each step's index is a copy."""
    from honeywell_search_engine_spark.streaming.ingest import stream_postings_delta

    root = tmp_path_factory.mktemp("layout")
    pdf = generate_pages_pdf(400)
    for name, lo, hi in (("base", 0, 250), ("gen", 250, 350), ("stream", 350, 400)):
        _write_pages(spark, pdf, lo, hi, str(root / f"pages_{name}"))
    idx, gen, out = str(root / "idx"), str(root / "gen"), {}

    def snap(step, lo, hi, dead=()):
        shutil.copytree(idx, str(root / step))
        out[step] = (str(root / step), _oracle(pdf, lo, hi, dead))

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(S, "SEGMENT_ROW_GROUP_ROWS", CAP)
        pages = spark.read.schema(PAGES_SCHEMA).parquet(str(root / "pages_base"))
        S.build_segments(tokenized_docs(docs_from_pages(pages)), idx, str(root / "pages_base"),
                         n_buckets=N_BUCKETS, n_shards=N_SHARDS)
        snap("build", 0, 250)
        build_generation(spark, str(root / "pages_gen"), gen, idx)
        out["generation"] = (gen, _oracle(pdf, 250, 350))
        promote_generation(spark, idx, gen)
        snap("promote", 0, 350)
        delta = str(root / "delta")
        stream_postings_delta(spark, str(root / "pages_stream"), delta,
                              n_buckets=N_BUCKETS, n_shards=N_SHARDS)
        assert merge_deltas(spark, idx, delta)["docs_added"] > 10
        snap("merge", 0, 400)
        victims = [d for d, _ in ServingIndex(idx).search("data", k=12)[::3]]
        delete_docs(idx, victims)
        assert compact(spark, idx)["compacted"] == len(victims)
        snap("compact", 0, 400, set(victims))
    return out


def _files(idx, buckets=None):
    return sorted(f for f in glob.glob(f"{idx}/segments/bucket=*/*.parquet")
                  if buckets is None or int(f.split("bucket=")[1].split("/")[0]) in buckets)


def _term_ranges(path):
    """[(rows, term min, term max)] of every row group of one file."""
    md = pq.read_metadata(path)
    ci = next(i for i in range(md.num_columns) if md.schema.column(i).path == "term")
    out = []
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(ci).statistics
        assert st is not None and st.has_min_max, (path, rg)
        out.append((md.row_group(rg).num_rows, st.min, st.max))
    return out


def _holding(path, terms):
    return [i for i, (_, lo, hi) in enumerate(_term_ranges(path))
            if any(lo <= t <= hi for t in terms)]


def _clustered(path) -> bool:
    t = pq.read_table(path, columns=["term", "shard"])
    keys = list(zip(t.column("term").to_pylist(), t.column("shard").to_pylist()))
    return keys == sorted(keys)


@pytest.mark.parametrize("step", STEPS)
def test_segment_files_clustered_in_capped_row_groups(life, step):
    idx, _ = life[step]
    files = _files(idx)
    assert files
    for f in files:
        assert _clustered(f), f
        ranges = _term_ranges(f)  # asserts term min/max on every row group
        assert max(r for r, _, _ in ranges) <= CAP, f
        assert len(ranges) > 1, f


@pytest.mark.parametrize("step", STEPS)
def test_cold_serving_reads_only_holding_row_groups(life, step, monkeypatch):
    idx, oracle = life[step]
    by_bucket = {}
    for t in QUERY:
        by_bucket.setdefault(S.bucket_of(t, N_BUCKETS), []).append(t)
    want = [h for b, ts in by_bucket.items() for f in _files(idx, {b})
            if (h := _holding(f, ts))]
    assert sum(map(len, want)) < sum(len(_term_ranges(f)) for f in _files(idx, set(by_bucket)))
    reads, real = [], pq.ParquetFile.read_row_groups

    def spy(self, row_groups, *a, **kw):
        reads.append(list(row_groups))
        return real(self, row_groups, *a, **kw)

    monkeypatch.setattr(pq.ParquetFile, "read_row_groups", spy)
    q = " ".join(QUERY)
    assert ServingIndex(idx).search(q, k=10, mode="or") == oracle.search_or(q, k=10)
    assert sorted(reads) == sorted(want)


@pytest.mark.parametrize("step", STEPS)
def test_spark_point_scan_reads_only_holding_row_groups(spark, life, step, monkeypatch):
    """The segment-row read a Spark query task runs (tested in-process:
    the same function, over the handle's snapshot) decodes, in every file
    of the query's buckets, exactly the row groups whose term min/max
    hold one of THAT bucket's terms — fewer than a filter by every query
    term would. The Spark point query scans no segment file and answers
    as the oracle."""
    idx, oracle = life[step]
    by_bucket = {}
    for t in SPREAD:
        by_bucket.setdefault(S.bucket_of(t, N_BUCKETS), []).append(t)
    assert len(by_bucket) >= 2
    files = {f: ts for b, ts in by_bucket.items() for f in _files(idx, {b})}
    want = {f: h for f, ts in files.items() if (h := _holding(f, ts))}
    assert sum(map(len, want.values())) < sum(len(_holding(f, SPREAD)) for f in files)
    reads = {}
    real_init, real_read = pq.ParquetFile.__init__, pq.ParquetFile.read_row_groups

    def init(self, source, *a, **kw):
        real_init(self, source, *a, **kw)
        self.spied_path = source

    def read(self, row_groups, *a, **kw):
        assert self.spied_path not in reads  # one read per file
        reads[self.spied_path] = list(row_groups)
        return real_read(self, row_groups, *a, **kw)

    q = " ".join(SPREAD)
    with S.SegmentIndex(spark, idx) as si:
        assert {f: ts for b, ts in by_bucket.items() for f in si.segment_files.get(b, ())} == files
        monkeypatch.setattr(pq.ParquetFile, "__init__", init)
        monkeypatch.setattr(pq.ParquetFile, "read_row_groups", read)
        _df, lists = S.read_term_rows(si.segment_files, si.n_buckets, SPREAD)
        monkeypatch.undo()
        df = W.bm25_topk_wand(si, q, k=10, mode="or")
        got = [(r.docid, r.score) for r in df.collect()]
        plan = df._jdf.queryExecution().executedPlan().toString()
    assert reads == want
    assert set(lists) == set(SPREAD)
    assert got == oracle.search_or(q, k=10)
    assert "Scan" not in plan and "segments" not in plan, plan


# --------------------------------------------------------------------------
# indexes written before the layout
# --------------------------------------------------------------------------


def _unclustered_copy(src, dst):
    """A copy of the index `src` whose bucket files are each rewritten as
    an index written before the layout has them: one row group, rows in
    no (term, shard) order, v1 data pages with dictionaries and
    statistics on every column. Row contents (and so the manifests'
    checksums) are unchanged."""
    shutil.copytree(src, dst)
    rng = np.random.default_rng(11)
    for f in _files(dst):
        t = pq.read_table(f)
        t = t.take(pa.array(rng.permutation(t.num_rows)))
        for stale in (f, os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")):
            if os.path.exists(stale):  # Hadoop's checksum sidecar describes the old bytes
                os.remove(stale)
        pq.write_table(t, f, row_group_size=t.num_rows, data_page_version="1.0")
        assert pq.read_metadata(f).num_row_groups == 1 and not _clustered(f)


def _answers(spark, idx):
    """Answers of Spark, ServingIndex and GenerationSet over `idx`."""
    out = {}
    with S.SegmentIndex(spark, idx) as si:
        for q in ("data search", "web engine"):
            for mode in ("and", "or"):
                out[("spark", q, mode)] = [
                    (r.docid, r.score) for r in W.bm25_topk_wand(si, q, k=10, mode=mode).collect()]
        out[("spark", "phrase")] = [
            (r.docid, r.score) for r in W.bm25_topk_phrase(si, "data search", k=10).collect()]
    for name, fe in (("serving", ServingIndex(idx)), ("generations", GenerationSet([idx]))):
        for q in ("data search", "web engine"):
            for mode in ("and", "or"):
                out[(name, q, mode)] = fe.search(q, k=10, mode=mode)
        out[(name, "web")] = fe.search_websearch('"data search" or engine -web', k=10)
        out[(name, "phrase")] = fe.search_phrase("data search", k=10)
    return out


def test_unclustered_index_answers_and_is_clustered_by_rewrites(spark, life, tmp_path):
    """An index of one unsorted row group per bucket file answers
    bit-identically with its clustered twin on every front end; after
    promote_generation its rewritten buckets, and after compact all its
    buckets, are clustered in capped row groups and the answers stay
    equal to the twin's."""
    clean, legacy = str(tmp_path / "clean"), str(tmp_path / "legacy")
    shutil.copytree(life["build"][0], clean)
    _unclustered_copy(life["build"][0], legacy)
    assert _answers(spark, legacy) == _answers(spark, clean)

    gen = life["generation"][0]
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(S, "SEGMENT_ROW_GROUP_ROWS", CAP)
        for d in (clean, legacy):
            affected = promote_generation(spark, d, gen)["affected_buckets"]
        rewritten = [f for f in _files(legacy) if len(_term_ranges(f)) > 1]
        assert 0 < affected == len(rewritten)
        assert all(_clustered(f) for f in rewritten)
        assert _answers(spark, legacy) == _answers(spark, clean)
        victims = [d for d, _ in ServingIndex(clean).search("data", k=8)[::2]]
        for d in (clean, legacy):
            delete_docs(d, victims)
            assert compact(spark, d)["compacted"] == len(victims)
    for f in _files(legacy):
        assert _clustered(f) and len(_term_ranges(f)) > 1, f
        assert max(r for r, _, _ in _term_ranges(f)) <= CAP, f
    assert _answers(spark, legacy) == _answers(spark, clean)
