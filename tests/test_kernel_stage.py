"""The shard-kernel stage of the Spark query entry points: its task count
follows the query's posting volume (query/wand.py _shard_stage), idf rides
the kernel closure, caller strings never reach the SQL text, and a
SegmentIndex releases what it registered."""

import re

import pytest

import test_segments as TS
from honeywell_search_engine_spark.plans import physical_plan
from honeywell_search_engine_spark.query import wand as W
from honeywell_search_engine_spark.sources.pages import reference_queries

QUERIES = reference_queries()

# quotes, backslashes (a trailing one would escape a spliced literal's
# closing quote), SQL fragments, unicode, and the empty string
HOSTILE = [
    f"{QUERIES['q01']}' OR '1'='1",
    f"{QUERIES['q01']} {QUERIES['q02']}\\",
    f"\\' {QUERIES['q06']} '\\\\",
    f"données ünïcode 日本語 {QUERIES['q01']}",
    "",
]


def _run_counted(spark, fn):
    """(result, [(numTasks per stage)] per job) of everything `fn` ran,
    read from statusTracker() under a job group."""
    sc = spark.sparkContext
    group = "kernel-stage-probe"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = []
    for j in sorted(tracker.getJobIdsForGroup(group)):
        info = tracker.getJobInfo(j)
        stages = [tracker.getStageInfo(s) for s in info.stageIds]
        jobs.append([s.numCompletedTasks for s in stages if s and s.numCompletedTasks])
    return out, jobs


def _rows(df):
    return [(r["docid"], r["score"]) for r in df.collect()]


def test_kernel_tasks_sized_to_postings(seg_index):
    cap = min(seg_index.n_shards, seg_index.spark.sparkContext.defaultParallelism)
    p = W.POSTINGS_PER_TASK
    assert W._kernel_tasks(seg_index, 0) == 1
    assert W._kernel_tasks(seg_index, p) == 1
    assert W._kernel_tasks(seg_index, p + 1) == min(2, cap)
    assert W._kernel_tasks(seg_index, 10**12) == cap


def test_repeated_point_query_runs_one_kernel_task(seg_index):
    """A point query whose terms are in the idf memo runs 2 jobs: the
    segment scan + ONE shard-kernel task feeding the broadcast, then the
    docmap rehydrate join with its top-k. The kernel stage no longer
    inherits spark.sql.shuffle.partitions (8 in the test session)."""
    q = QUERIES["q10"]
    first = _rows(W.bm25_topk_wand(seg_index, q, k=10))  # fills the memo
    df = W.bm25_topk_wand(seg_index, q, k=10)
    got, jobs = _run_counted(seg_index.spark, lambda: _rows(df))
    assert got == first
    assert len(jobs) == 2, jobs
    plan = physical_plan(df)
    # repartition(1, shard) plans as a single-partition exchange
    assert "Exchange SinglePartition" in plan and "hashpartitioning" not in plan, plan
    # the kernel job: scan stage(s), then the 1-task kernel stage
    assert jobs[0][-1] == 1, jobs
    assert "term_stats" not in plan  # idf rides the kernel closure


def test_oracle_identity_at_task_cap(monkeypatch, spark, seg_index, oracle, pages_pdf):
    """With POSTINGS_PER_TASK = 1 every stage runs at its cap (one task
    per shard, here 4): the oracle-identity checks still hold unchanged —
    AND/OR, websearch, phrase, batch, and the large-scope cogroup path
    (both cogroup sides at the same count: no extra exchange)."""
    monkeypatch.setattr(W, "POSTINGS_PER_TASK", 1)
    cap = min(seg_index.n_shards, spark.sparkContext.defaultParallelism)
    assert cap > 1
    plan = physical_plan(W.bm25_topk_wand(seg_index, QUERIES["q10"], k=10))
    assert re.search(rf"hashpartitioning\(shard#\d+, {cap}\)", plan), plan
    for name in sorted(QUERIES):
        TS.test_wand_bit_identical_to_oracle(seg_index, oracle, name)
    TS.test_or_topk_matches_oracle(seg_index, oracle)
    TS.test_websearch_negation_matches_oracle(spark, seg_index, oracle)
    TS.test_websearch_full_quoted_plus_negation_matches_oracle(
        spark, seg_index, oracle, pages_pdf
    )
    TS.test_phrase_topk_matches_oracle(spark, seg_index, oracle, pages_pdf)
    TS.test_batch_wand_equals_per_query(seg_index)
    TS.test_large_scope_cogroup_path_no_driver_materialization(spark, seg_index, oracle)
    scope = spark.range(0, 1).select("id")
    cg = W.bm25_topk_wand(
        seg_index, QUERIES["q01"], k=10, allowed_docids=scope.withColumnRenamed("id", "docid")
    )
    cg_plan = physical_plan(cg)
    # one exchange per cogroup side, both at the cap
    assert len(re.findall(rf"hashpartitioning\(shard#\d+, {cap}\)", cg_plan)) == 2, cg_plan


@pytest.mark.parametrize("q", HOSTILE)
def test_hostile_query_strings_match_oracle(seg_index, oracle, q):
    """Quotes, backslashes and unicode in a query string are analyzer
    input, never SQL: every public Spark entry point answers like the
    oracle (or rejects like it)."""
    assert _rows(W.bm25_topk_wand(seg_index, q, k=10)) == oracle.search(q, k=10)
    assert _rows(W.bm25_topk_wand(seg_index, q, k=10, mode="or")) == oracle.search_or(q, k=10)
    assert _rows(W.bm25_topk_websearch(seg_index, q, k=10)) == oracle.search_websearch(q, k=10)
    assert _rows(W.bm25_topk_phrase(seg_index, q, k=10)) == oracle.search_phrase(q, k=10)
    try:
        exp = oracle.search_near_unordered(q, k=10, dist=3)
    except ValueError:
        with pytest.raises(ValueError):
            W.bm25_topk_near_unordered(seg_index, q, k=10, dist=3)
    else:
        assert _rows(W.bm25_topk_near_unordered(seg_index, q, k=10, dist=3)) == exp


def test_hostile_strings_through_batch_entry_points(seg_index):
    """The batch entry points take the same strings (and an empty batch)
    and answer exactly like their per-query counterparts."""
    qs = {f"h{i}": q for i, q in enumerate(HOSTILE)}
    for batch_fn, one_fn in (
        (W.bm25_topk_wand_batch, W.bm25_topk_wand),
        (W.bm25_topk_websearch_batch, W.bm25_topk_websearch),
        (W.bm25_topk_phrase_batch, W.bm25_topk_phrase),
    ):
        got = {}
        for r in batch_fn(seg_index, qs, k=10).collect():
            got.setdefault(r["qid"], []).append((r["docid"], r["score"]))
        for qid, q in qs.items():
            assert got.get(qid, []) == _rows(one_fn(seg_index, q, k=10)), (batch_fn, q)
        assert batch_fn(seg_index, {}, k=10).collect() == []


@pytest.mark.parametrize(
    "bad", [["data'"], ["search\\"], ["x') OR ('1'='1"], ["Data"], ["日本"], [""], [None]]
)
def test_pre_analyzed_outside_alphabet_rejected(seg_index, bad):
    with pytest.raises(ValueError, match="a-z0-9"):
        W.bm25_topk_wand(seg_index, "", pre_analyzed=bad)
    with pytest.raises(ValueError, match="a-z0-9"):
        W.bm25_topk_wand(seg_index, QUERIES["q01"], exclude_terms=bad)


def test_pre_analyzed_and_empty_terms(seg_index, oracle):
    q = QUERIES["q10"]
    terms = q.split()
    assert _rows(W.bm25_topk_wand(seg_index, "", pre_analyzed=terms)) == oracle.search(q)
    assert W.bm25_topk_wand(seg_index, q, pre_analyzed=[]).collect() == []
    assert W.bm25_topk_wand(seg_index, "").collect() == []


def test_segments_for_binds_terms(seg_index):
    """segments_for binds its terms as parameters: quotes and backslashes
    are matched literally (no row has them), and an empty list is an
    empty frame with the segment (kernel-input) schema."""
    hostile = ["a'b", "c\\", "\\'", "x') OR ('1'='1", "ünï"]
    assert seg_index.segments_for(hostile).count() == 0
    ok = seg_index.segments_for(hostile + [QUERIES["q01"]])
    assert {r["term"] for r in ok.select("term").collect()} == {QUERIES["q01"]}
    empty = seg_index.segments_for([])
    assert empty.schema == seg_index.segments.schema
    assert empty.count() == 0


def test_close_drops_views_and_broadcasts(spark, seg_index):
    from honeywell_search_engine_spark.index.segments import SegmentIndex

    def views(session):
        return {t.name for t in session.catalog.listTables() if t.isTemporary}

    with SegmentIndex(spark, seg_index.path, isolate_session=False) as idx:
        mine = {idx._seg_view, idx._dm_view}
        assert mine <= views(spark)
        assert _rows(W.bm25_topk_wand(idx, QUERIES["q10"], k=10, allowed_docids=[1])) == []
        assert idx._scope_bcs
    assert not mine & views(spark)
    assert not idx._scope_bcs
    idx.close()  # idempotent
