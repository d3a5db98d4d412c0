"""Physical-plan quality assertions: the optimizations we rely on at scale
must be visible in the plan, not assumed.

- a query plan scans no segment file: its tasks read their rows with the
  shared posting-row read, which opens only the query terms' bucket files
  and reads only the columns the kernels read;
- pages scans prune columns (html not read unless extraction requested);
- the phase-2 encode plan contains NO Exchange (single-shuffle build).
"""

from pyspark.sql import functions as F

from honeywell_search_engine_spark.plans import optimized_plan, physical_plan

_plan = physical_plan
_optimized = optimized_plan


def _spy_reads(monkeypatch):
    """[footer paths] and [[columns]] of every segment file read from now
    on (a footer is parsed once per file per read_term_rows call)."""
    import pyarrow.parquet as pq

    paths, cols = [], []
    real_md, real_read = pq.read_metadata, pq.ParquetFile.read_row_groups
    monkeypatch.setattr(pq, "read_metadata",
                        lambda p, *a, **kw: paths.append(p) or real_md(p, *a, **kw))

    def read(self, row_groups, columns=None, **kw):
        cols.append(list(columns))
        return real_read(self, row_groups, columns=columns, **kw)

    monkeypatch.setattr(pq.ParquetFile, "read_row_groups", read)
    return paths, cols


def test_segment_scan_partition_pruned(seg_index, monkeypatch):
    """The segment-row read is bucket-pruned: it opens only the query
    terms' bucket files of the handle's snapshot and returns their lists
    with df equal to term_stats'; a query plan scans no segment file."""
    from honeywell_search_engine_spark.index.segments import bucket_of, read_term_rows
    from honeywell_search_engine_spark.query.wand import bm25_topk_wand

    terms = ["data", "search"]
    paths, _cols = _spy_reads(monkeypatch)
    df, lists = read_term_rows(seg_index.segment_files, seg_index.n_buckets, terms)
    files = seg_index.segment_files
    want = {f for b in {bucket_of(t, seg_index.n_buckets) for t in terms} for f in files[b]}
    assert want and sorted(paths) == sorted(want) and len(want) < sum(map(len, files.values()))
    assert set(lists) == set(terms)
    assert df == {t: n for t, (n, _idf) in seg_index.term_info(terms).items()}
    plan = _plan(bm25_topk_wand(seg_index, "data search", k=10))
    assert "Scan" not in plan and "segments" not in plan, plan


def test_pages_scan_prunes_html(spark, pages_path):
    from honeywell_search_engine_spark.index.corpus import docs_from_pages
    from honeywell_search_engine_spark.sources.pages import read_pages

    docs = docs_from_pages(read_pages(spark, pages_path))
    plan = _plan(docs)
    schema_part = plan.split("ReadSchema")[1][:300] if "ReadSchema" in plan else plan
    assert "html" not in schema_part, "html must be pruned from the scan"
    assert "lang" in plan  # pushed filter on lang


def test_naive_topk_uses_takeordered(seg_index):
    """The naive exhaustive query (k = corpus size) keeps the
    TakeOrderedAndProject cut: a large k does not fall back to a global
    Sort."""
    import re

    from honeywell_search_engine_spark.query.wand import bm25_topk_wand

    plan = _plan(bm25_topk_wand(seg_index, "data search", k=seg_index.stats.n_docs))
    assert "TakeOrderedAndProject" in plan
    assert not re.findall(r"Sort \[", plan), plan


def test_phase2_encode_plan_has_no_exchange(spark, seg_index, tmp_path):
    """The encode read path (occurrence scratch scan -> mapInArrow) must
    not shuffle: groups are file-contiguous by construction. The scratch
    here is re-derived from the index's segment rows, as a bucket repair
    does (the build deletes its own at finalize)."""
    from honeywell_search_engine_spark.index.segments import (
        SEGMENT_SCHEMA,
        make_segment_encoder,
        segment_occurrences,
        write_occurrences,
    )

    occ = str(tmp_path / "postings")
    segs = spark.read.parquet(f"{seg_index.path}/segments")
    write_occurrences(segment_occurrences(segs.filter(F.col("bucket").isin([0, 1]))), occ)
    rows = (
        spark.read.parquet(occ)
        .filter(F.col("bucket").isin([0, 1]))
        .select("term", "shard", "lid", "doclen", "pos")
    )
    enc = rows.mapInArrow(make_segment_encoder(16), schema=SEGMENT_SCHEMA)
    assert "Exchange" not in _plan(enc)


def test_docmap_assignment_is_tokenizer_free(spark, pages_path):
    """Local-id assignment needs only the docid set: the plan must prune
    away text/tokens entirely (no Arrow UDF, no tokenize)."""
    from honeywell_search_engine_spark.index.corpus import docs_from_pages, tokenized_docs
    from honeywell_search_engine_spark.index.docmap import assign_local_ids
    from honeywell_search_engine_spark.sources.pages import read_pages

    tok = tokenized_docs(docs_from_pages(read_pages(spark, pages_path)))
    dm = assign_local_ids(tok.select("docid"), 4)
    plan = _plan(dm)
    assert "ArrowEvalPython" not in plan
    schema_part = plan.split("ReadSchema")[1][:200] if "ReadSchema" in plan else plan
    assert "text" not in schema_part


def test_point_query_rehydrates_inside_kernel_stage(seg_index):
    """A point query's plan is one stage: a one-row task-descriptor
    frame, the shard kernels — which read their segment rows and map
    their lids to docids themselves — and a TakeOrderedAndProject final
    cut. No exchange, no join of any kind, and no scan of any file."""
    from honeywell_search_engine_spark.query.wand import bm25_topk_wand

    plan = _plan(bm25_topk_wand(seg_index, "data search", k=10))
    assert "TakeOrderedAndProject" in plan
    assert "Range (0, 1, step=1, splits=1)" in plan
    for bad in ("Exchange", "Join", "Scan", "segments", "docmap", "term_stats"):
        assert bad not in plan, (bad, plan)


def test_batch_plans_read_no_docmap(seg_index):
    """The batch entry points' kernels read their rows and rehydrate too:
    their plans join nothing and scan no file, and a one-task stage feeds
    the rank window without an exchange."""
    from honeywell_search_engine_spark.query import wand as W

    qs = {"a": "data search", "b": "table"}
    for fn in (W.bm25_topk_wand_batch, W.bm25_topk_websearch_batch, W.bm25_topk_phrase_batch):
        plan = _plan(fn(seg_index, qs, k=10))
        assert "MapInArrow" in plan and "Range (0, 1, step=1, splits=1)" in plan, plan
        for bad in ("Exchange", "Join", "Scan", "segments", "docmap", "term_stats"):
            assert bad not in plan, (fn.__name__, bad, plan)


def test_phrase_scan_pruned_and_projected(seg_index, monkeypatch):
    """A phrase query's segment-row read opens only the phrase terms'
    bucket files and reads the position stream: its lists carry
    positions; its plan scans no segment file."""
    from honeywell_search_engine_spark.index.segments import bucket_of, read_term_rows
    from honeywell_search_engine_spark.query.wand import bm25_topk_phrase, plan_query

    plan = plan_query(seg_index, "data search", 10, syntax="phrase")
    assert plan.need_pos == {"data", "search"}
    paths, cols = _spy_reads(monkeypatch)
    _df, lists = read_term_rows(seg_index.segment_files, seg_index.n_buckets,
                                plan.scan_terms, plan.need_pos)
    files = seg_index.segment_files
    assert sorted(paths) == sorted(
        {f for b in {bucket_of(t, seg_index.n_buckets) for t in plan.scan_terms}
         for f in files[b]})
    assert cols and all("positions" in c and "p_off" in c for c in cols), cols
    assert all(enc.positions is not None for enc in lists.values()), lists
    assert "Scan" not in _plan(bm25_topk_phrase(seg_index, "data search", k=10))


def test_kernel_scan_projects_kernel_columns(seg_index, monkeypatch):
    """The segment-row read takes only the columns the kernels read: a
    point AND query reads neither positions nor ctf (nor the bucket
    partition column); a phrase query still reads positions."""
    from honeywell_search_engine_spark.index.segments import read_term_rows
    from honeywell_search_engine_spark.query.wand import plan_query

    def read_cols(**kw):
        plan = plan_query(seg_index, "data search", 10, **kw)
        _paths, cols = _spy_reads(monkeypatch)
        read_term_rows(seg_index.segment_files, seg_index.n_buckets,
                       plan.scan_terms, plan.need_pos)
        monkeypatch.undo()
        assert cols
        return {c for cs in cols for c in cs}

    point, phrase = read_cols(), read_cols(syntax="phrase")
    assert "doclens" in point, point
    for bad in ("positions", "p_off", "ctf", "bucket"):
        assert bad not in point, (bad, point)
    assert "positions" in phrase and "p_off" in phrase, phrase


def test_rerank_plan_shape(spark):
    """rerank_topk: candidate semi-join broadcasts, final top-k via a
    single window over 50 rows (no Exchange storm), features stay as
    column expressions (no Python eval in the plan)."""
    from honeywell_search_engine_spark.operators.serving import rerank_topk
    from honeywell_search_engine_spark.plans import (
        has_broadcast_join,
        physical_plan,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df = rerank_topk(docs, "data table query", k_in=50, k_out=10)
    plan = physical_plan(df)
    assert has_broadcast_join(df)  # candidate ids ride a broadcast
    for bad in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
        assert bad not in plan  # features are pure column expressions


def test_docmap_assignment_single_job_no_collect(spark, pages_path):
    """assign_local_ids is ONE lazy plan: building it triggers no Spark
    job (the round-4 version ran an eager count+collect before returning);
    the cell-offset table rides a broadcast join."""
    from honeywell_search_engine_spark.index.corpus import docs_from_pages
    from honeywell_search_engine_spark.index.docmap import assign_local_ids
    from honeywell_search_engine_spark.plans import has_broadcast_join
    from honeywell_search_engine_spark.sources.pages import read_pages

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    docs = docs_from_pages(read_pages(spark, pages_path)).select("docid")
    dm = assign_local_ids(docs, 4)  # must not run anything yet
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before, "lid assignment must be lazy (no eager job)"
    assert has_broadcast_join(dm)
    assert dm.count() > 0  # and it still computes


def test_match_filter_stays_above_spread_exchange(spark):
    """_stage_pin (r7 late): the expensive match predicate must NOT be
    pushed below a repartition — on the sandbox's single-file corpora the
    pushed form runs the whole tokenize+match on the scan's 1-2 input
    splits and duplicates the tokenizer into every conjunct (match_and at
    the 10x corpus: 2.19 s pushed vs 0.67 s pinned, identical rows)."""
    from honeywell_search_engine_spark.operators.search import match_all_terms

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df = match_all_terms(docs.repartition(4), "spark merge vector")
    plan = physical_plan(df)
    # the pinned Filter must sit ABOVE the spread exchange (the text
    # below the RoundRobin node is just the scan); its condition may
    # still show per-conjunct copies of the tokenizer — those are CSE'd
    # at runtime within the one Filter operator
    below_spread = plan.split("Exchange RoundRobinPartitioning", 1)[1]
    assert "- Filter" not in below_spread, (
        "match predicate was pushed below the spread exchange"
    )


def test_bm25_candidate_filter_stays_above_spread_exchange(spark):
    """Same contract for bm25_inflight's candidate (presence) filter."""
    from honeywell_search_engine_spark.operators.search import bm25_inflight

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df = bm25_inflight(docs.repartition(4), "merge spark", k=10)
    plan = physical_plan(df)
    # the candidate filter must not sink below either subtree's spread
    for seg in plan.split("Exchange RoundRobinPartitioning")[1:]:
        scan_part = seg.split("FileScan", 1)[0]
        assert "- Filter" not in scan_part, (
            "bm25 candidate filter was pushed below the spread exchange"
        )


def test_term_stats_hash_feed_single_group_exchange(spark):
    """A docid-partitioned feed must satisfy the (docid, term) tf
    aggregate's ClusteredDistribution (subset rule): the whole
    term_stats plan then holds exactly TWO shuffles — the feed
    repartition and the per-term aggregate — and the token multiset
    never crosses the wire (r7 late: exchanges 3 -> 2, -62% at 10x)."""
    from pyspark.sql import functions as F

    from honeywell_search_engine_spark.operators.search import term_stats_table

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df = term_stats_table(docs.repartition(4, F.col("doc_id")))
    plan = physical_plan(df)
    assert plan.count("Exchange") == 2, plan


def test_session_excludes_infer_filters_from_generate(spark):
    """get_spark sessions must exclude InferFiltersFromGenerate: the
    inferred size(gen)>0 filter re-evaluates the full generator
    expression per row (for chunk_stats that expression is the Arrow
    chunking UDF — the old plan ran ArrowEvalPython twice)."""
    assert "InferFiltersFromGenerate" in spark.conf.get(
        "spark.sql.optimizer.excludedRules", ""
    )
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    toks = F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), F.lit(0))
    df = docs.select(F.explode(toks).alias("t"))
    plan = physical_plan(df)
    assert plan.count("regexp_extract_all") == 1, plan


def test_segment_index_point_query_session(spark, seg_index):
    """SegmentIndex (r7 late) runs its queries on an isolated session
    clone with AQE off — point queries' single-digit-row exchanges gain
    nothing from adaptive stage materialization (~40 ms/query fixed
    cost measured). Builder-level conf must be inherited; the caller's
    session must keep AQE; isolate_session=False opts out."""
    from honeywell_search_engine_spark.index.segments import SegmentIndex

    q = seg_index.spark
    assert q is not spark
    assert q.sparkContext is spark.sparkContext
    assert q.conf.get("spark.sql.adaptive.enabled") == "false"
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert q.conf.get("spark.sql.shuffle.partitions") == spark.conf.get(
        "spark.sql.shuffle.partitions"
    )
    raw = SegmentIndex(spark, seg_index.path, isolate_session=False)
    assert raw.spark is spark


def test_wand_sql_tail_plan_shape(seg_index):
    """The wand query plan: the task-descriptor frame, the kernel stage
    (whose tasks read their segment rows) and a TakeOrderedAndProject
    tail — no Sort anywhere in the plan (the kernel body groups its rows
    by shard itself, so not even a shard-local group sort). Rows, idf
    and docids ride the kernel stage, so no segment file, term dictionary
    or docmap is scanned or joined, and a one-task stage has no
    Exchange."""
    import re

    from honeywell_search_engine_spark.query.wand import bm25_topk_wand

    df = bm25_topk_wand(seg_index, "data search", k=10)
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan
    for bad in ("Join", "Exchange", "docmap"):
        assert bad not in plan, (bad, plan)
    assert "MapInArrow" in plan, plan
    assert not re.findall(r"Sort \[", plan), plan
    assert "term_stats" not in plan
    assert "Scan" not in plan and "segments" not in plan, plan
