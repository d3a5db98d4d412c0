"""The shard-kernel stage of the Spark query entry points: its task count
follows the query's posting volume (query/wand.py _shard_stage), idf rides
the kernel closure, the kernel tasks map their lids to docids themselves,
caller strings never reach the SQL text, and a SegmentIndex releases what
it registered."""

import itertools
import re
import types

import numpy as np
import pyarrow.parquet as pq
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


_GROUPS = itertools.count()


def _run_counted(spark, fn):
    """(result, [[numTasks per stage] per job]) of everything `fn` ran —
    plan building included — read from statusTracker() under a job
    group."""
    sc = spark.sparkContext
    group = f"kernel-stage-probe-{next(_GROUPS)}"
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
        jobs.append([tracker.getStageInfo(s).numTasks for s in info.stageIds])
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


def test_repeated_point_query_runs_one_kernel_task(spark, seg_index):
    """A point query is ONE Spark job of one stage and one task, on its
    first call (every term an idf-memo miss: the lookup is a driver-side
    pyarrow read) as on a repeat: the segment scan, the shard kernels
    (which map their lids to docids), and the TakeOrderedAndProject run
    in the same task. The kernel stage does not inherit
    spark.sql.shuffle.partitions (8 in the test session), and a one-task
    stage has no exchange."""
    from honeywell_search_engine_spark.index.segments import SegmentIndex

    q = QUERIES["q10"]
    with SegmentIndex(spark, seg_index.path) as idx:  # empty idf memo
        assert not idx._term_cache
        first, jobs = _run_counted(
            idx.spark, lambda: _rows(W.bm25_topk_wand(idx, q, k=10))
        )
        assert first and idx._term_cache
        assert jobs == [[1]], jobs
        df = W.bm25_topk_wand(idx, q, k=10)
        got, jobs = _run_counted(idx.spark, lambda: _rows(df))
        assert got == first
        assert jobs == [[1]], jobs
        plan = physical_plan(df)
    assert "Coalesce 1" in plan and "Exchange" not in plan, plan
    for side in ("term_stats", "docmap", "Join"):  # idf and docids ride the kernel
        assert side not in plan, plan


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


def test_task_body_reads_docmap_once(monkeypatch, seg_index, oracle):
    """One kernel task's body, run in-process over every shard's segment
    rows (shuffled, as they may arrive from several batches): it maps the
    keys of all shards and all queries with ONE docmap dataset read, and
    its top-k+ties cut to k is the oracle's answer for every query."""
    import pyarrow.dataset as ds

    queries = {n: QUERIES[n] for n in ("q01", "q02", "q10")}
    plans = {n: W.plan_query(seg_index, q, 10) for n, q in queries.items()}
    terms = sorted({t for p in plans.values() for t in p.scan_terms})
    idf = {t: v for t, (_n, v) in seg_index.term_info(terms).items()}
    segs = seg_index.segments_for(terms).toArrow()
    assert len(set(segs.column("shard").to_pylist())) > 1
    segs = segs.take(np.random.default_rng(7).permutation(segs.num_rows))

    opened = []
    real_dataset = ds.dataset
    monkeypatch.setattr(ds, "dataset", lambda *a, **kw: opened.append(a) or real_dataset(*a, **kw))
    out = W._task_body(seg_index, plans, 10, True, idf)(segs)
    assert len(opened) == 1
    rows = sorted(zip(*(out.column(c).to_pylist() for c in ("qid", "docid", "score"))),
                  key=lambda r: (r[0], -r[2], r[1]))
    for name, q in queries.items():
        got = [(d, s) for qid, d, s in rows if qid == name][:10]
        assert got == oracle.search(q, k=10), name


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


@pytest.fixture(scope="module")
def search_fronts(seg_index):
    """The single-query search entry point of every front end: Spark,
    ServingIndex and GenerationSet."""
    from honeywell_search_engine_spark.query.generations import GenerationSet
    from honeywell_search_engine_spark.query.local import ServingIndex

    return {
        "spark": lambda *a, **kw: W.bm25_topk_wand(seg_index, *a, **kw),
        "serving": ServingIndex(seg_index.path).search,
        "generations": GenerationSet([seg_index.path]).search,
    }


@pytest.mark.parametrize(
    "bad", [["data'"], ["search\\"], ["x') OR ('1'='1"], ["Data"], ["日本"], [""], [None]]
)
def test_pre_analyzed_outside_alphabet_rejected(search_fronts, bad):
    for name, search in search_fronts.items():
        with pytest.raises(ValueError, match="a-z0-9"):
            search("", pre_analyzed=bad)
        with pytest.raises(ValueError, match="a-z0-9"):
            search(QUERIES["q01"], exclude_terms=bad)


@pytest.mark.parametrize(
    "kw, match",
    [
        ({"mode": "AND"}, "mode"),
        ({"mode": "xor"}, "mode"),
        ({"mode": ""}, "mode"),
        ({"k": 0}, "k must be"),
        ({"k": -3}, "k must be"),
        ({"k": 2.5}, "k must be"),
        ({"k": True}, "k must be"),
        ({"k": "10"}, "k must be"),
    ],
)
def test_unknown_mode_and_bad_k_rejected(seg_index, search_fronts, kw, match):
    """An unknown mode (mode is case-sensitive: 'AND' is not 'and') and a
    k that is not an int >= 1 are rejected by the plan step with a
    ValueError on every front end, batch included — never read as OR,
    never a numpy error from inside the top-k selection."""
    q = QUERIES["q01"]
    fronts = dict(search_fronts)
    fronts["spark-batch"] = lambda q, **kw: W.bm25_topk_wand_batch(seg_index, {"a": q}, **kw)
    for name, search in fronts.items():
        with pytest.raises(ValueError, match=match):
            search(q, **kw)


@pytest.mark.parametrize("bad", [-1, 1.5, True, "2", None])
def test_bad_slop_and_dist_rejected(seg_index, bad):
    """A phrase slop or a NEAR distance that is not an int >= 0 is
    rejected by the plan step with a ValueError on every front end —
    never a silent empty answer (-1) or a truncated one (1.5 read as 1)."""
    from honeywell_search_engine_spark.query.generations import GenerationSet
    from honeywell_search_engine_spark.query.local import ServingIndex, ShardRouter

    q = "data search"
    fronts = {
        "spark": (lambda s: W.bm25_topk_phrase(seg_index, q, slop=s),
                  lambda d: W.bm25_topk_near_unordered(seg_index, q, dist=d)),
        "spark-batch": (lambda s: W.bm25_topk_phrase_batch(seg_index, {"a": q}, slop=s),
                        None),
    }
    for name, fe in (("serving", ServingIndex(seg_index.path)),
                     ("router", ShardRouter(seg_index.path, n_nodes=3)),
                     ("generations", GenerationSet([seg_index.path]))):
        fronts[name] = (lambda s, fe=fe: fe.search_phrase(q, slop=s),
                        lambda d, fe=fe: fe.search_near_unordered(q, dist=d))
    for name, calls in fronts.items():
        for call in filter(None, calls):
            with pytest.raises(ValueError, match="slop/dist must be an int >= 0"):
                call(bad)


def test_one_evaluate_call_per_plan_per_node_and_task(monkeypatch, spark, seg_index, oracle):
    """Every front end evaluates a plan ONCE over all the shards it
    holds: one ``evaluate`` call per query on a ServingIndex, per
    GenerationSet member and per ShardRouter node, and one per plan per
    Spark task (counted with accumulators inside the tasks) for a point
    query and for a batch — also with POSTINGS_PER_TASK = 1, where the
    kernel stage runs several tasks, each over several shards' rows or
    fewer."""
    from honeywell_search_engine_spark.query.generations import GenerationSet
    from honeywell_search_engine_spark.query.local import ServingIndex, ShardRouter

    sc = spark.sparkContext
    evals, bodies = sc.accumulator(0), sc.accumulator(0)  # Spark task side
    local = []  # in-process side (a router's nodes run on threads)
    real_eval, real_docids = W.evaluate, W.docids_of_lids

    def counting_eval(*a, **kw):
        evals.add(1)
        local.append(1)
        return real_eval(*a, **kw)

    def counting_docids(*a, **kw):  # one docmap lookup per task body
        bodies.add(1)
        return real_docids(*a, **kw)

    monkeypatch.setattr(W, "evaluate", counting_eval)
    monkeypatch.setattr(W, "docids_of_lids", counting_docids)

    def counted(fn):
        e0, b0 = evals.value, bodies.value
        out = fn()
        return out, evals.value - e0, bodies.value - b0

    q = QUERIES["q10"]
    web = '"data search" or engine -web'
    fronts = {
        "serving": (ServingIndex(seg_index.path), 1),
        "generations": (GenerationSet([seg_index.path, seg_index.path]), 2),
        "router": (ShardRouter(seg_index.path, n_nodes=3), 3),
    }
    for name, (fe, n) in fronts.items():
        for run in (lambda: fe.search(q, k=10), lambda: fe.search(q, k=10, mode="or"),
                    lambda: fe.search_websearch(web, k=10),
                    lambda: fe.search_phrase("data search", k=10, slop=2)):
            local.clear()
            assert run(), name
            assert len(local) == n, (name, len(local))
    cap = W._kernel_tasks(seg_index, 10**12)  # tasks at POSTINGS_PER_TASK = 1
    assert cap > 1
    batch = {n: QUERIES[n] for n in ("q01", "q02", "q10")}
    for per_task in (W.POSTINGS_PER_TASK, 1):
        monkeypatch.setattr(W, "POSTINGS_PER_TASK", per_task)
        (got, jobs), n_evals, n_bodies = counted(
            lambda: _run_counted(spark, lambda: _rows(W.bm25_topk_wand(seg_index, q, k=10))))
        assert got == oracle.search(q, k=10)
        assert n_evals == n_bodies, (per_task, n_evals, n_bodies)
        if per_task == 1:
            assert 1 < n_bodies <= cap, (n_bodies, jobs)
        else:
            assert n_bodies == 1 and jobs == [[1]], (n_bodies, jobs)
        rows, n_evals, n_bodies = counted(
            lambda: W.bm25_topk_wand_batch(seg_index, batch, k=10).collect())
        assert {r["qid"] for r in rows} == set(batch)
        assert n_evals == len(batch) * n_bodies, (per_task, n_evals, n_bodies)
        assert 1 < n_bodies <= cap if per_task == 1 else n_bodies == 1, n_bodies


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
        mine = {idx._seg_view}
        assert mine <= views(spark)
        assert _rows(W.bm25_topk_wand(idx, QUERIES["q10"], k=10, allowed_docids=[1])) == []
        assert idx._scope_bcs
    assert not mine & views(spark)
    assert not idx._scope_bcs
    idx.close()  # idempotent


def test_foreign_context_scope_rejected(seg_index):
    """A DataFrame scope from another SparkContext is refused with a
    clear ValueError before any plan is built (a stand-in DataFrame whose
    session reports a different context; the index's own context, and so
    the caller's session, stays accepted)."""
    scope = seg_index.spark.range(0, 1).withColumnRenamed("id", "docid")

    class ForeignFrame(type(scope)):
        sparkSession = types.SimpleNamespace(sparkContext=object())

    foreign = ForeignFrame(scope._jdf, scope.sparkSession)
    with pytest.raises(ValueError, match="SparkContext"):
        W.bm25_topk_wand(seg_index, QUERIES["q01"], k=10, allowed_docids=foreign)
    assert W.bm25_topk_wand(seg_index, QUERIES["q01"], k=10, allowed_docids=scope).collect() == []


@pytest.fixture(scope="module")
def merged_index(spark, tmp_path_factory):
    """A 200-doc base index with 100 streamed docs merged in: merged docs
    get lids APPENDED after each shard's max, so lid order is not docid
    order."""
    from test_streaming import _write_slice

    from honeywell_search_engine_spark.index.corpus import docs_from_pages, tokenized_docs
    from honeywell_search_engine_spark.index.maintenance import merge_deltas
    from honeywell_search_engine_spark.index.segments import build_segments
    from honeywell_search_engine_spark.sources.pages import PAGES_SCHEMA, generate_pages_pdf
    from honeywell_search_engine_spark.streaming.ingest import stream_postings_delta

    tmp = tmp_path_factory.mktemp("merged")
    pdf = generate_pages_pdf(300)
    base_dir, idx_dir = str(tmp / "pages"), str(tmp / "idx")
    _write_slice(spark, pdf, 0, 200, base_dir)
    base = spark.read.schema(PAGES_SCHEMA).parquet(base_dir)
    build_segments(
        tokenized_docs(docs_from_pages(base)), idx_dir, base_dir,
        n_buckets=8, n_shards=4, buckets_per_job=8,
    )
    stream_dir, delta_dir = str(tmp / "pages2"), str(tmp / "delta")
    _write_slice(spark, pdf, 200, 300, stream_dir)
    stream_postings_delta(spark, stream_dir, delta_dir, n_buckets=8, n_shards=4)
    assert merge_deltas(spark, idx_dir, delta_dir)["docs_added"] > 0
    return idx_dir, pdf


def _lids_out_of_docid_order(idx_dir) -> bool:
    dm = pq.read_table(f"{idx_dir}/docmap").to_pandas()
    return any(
        not g.sort_values("local_id")["docid"].is_monotonic_increasing
        for _, g in dm.groupby("shard")
    )


def test_in_kernel_rehydrate_matches_oracle_after_merge(spark, merged_index):
    """The kernel tasks' docid lookup is exact on a docmap whose lids are
    not in docid order (appended by merge_deltas), with tombstones
    outstanding: AND, OR and a phrase through bm25_topk_wand and
    bm25_topk_phrase equal the oracle of the merged corpus with the dead
    docs removed from the results (corpus stats keep them until
    compaction)."""
    from honeywell_search_engine_spark.functions.analyzer import analyze
    from honeywell_search_engine_spark.index.corpus import docid_py
    from honeywell_search_engine_spark.index.maintenance import delete_docs
    from honeywell_search_engine_spark.index.segments import SegmentIndex
    from honeywell_search_engine_spark.oracle import OracleIndex

    idx_dir, pdf = merged_index
    assert _lids_out_of_docid_order(idx_dir)
    en = pdf[pdf.lang == "en"]
    oracle = OracleIndex.build([(docid_py(u), t) for u, t in zip(en.url, en.text)])
    appended = {docid_py(u) for u in pdf.iloc[200:300].url}
    k = 20
    victims = [d for d, _ in oracle.search("data", k=40)][::7][:4]
    assert len(victims) == 4
    delete_docs(idx_dir, victims, reason="in-kernel rehydrate test")
    phrase = " ".join(analyze(en[en.url.map(docid_py).isin(appended)].text.iloc[0])[:2])

    def live(res):
        return [r for r in res if r[0] not in set(victims)][:k]

    cases = [
        (lambda i: W.bm25_topk_wand(i, "data", k=k), live(oracle.search("data", k=k + 4))),
        (lambda i: W.bm25_topk_wand(i, "data search", k=k),
         live(oracle.search("data search", k=k + 4))),
        (lambda i: W.bm25_topk_wand(i, "data search", k=k, mode="or"),
         live(oracle.search_or("data search", k=k + 4))),
        (lambda i: W.bm25_topk_phrase(i, phrase, k=k), live(oracle.search_phrase(phrase, k=k + 4))),
    ]
    seen = set()
    with SegmentIndex(spark, idx_dir) as idx:
        assert set(victims) <= idx.tombstones
        for run, exp in cases:
            got = _rows(run(idx))
            assert got == exp
            seen |= {d for d, _ in got}
    assert seen & appended  # appended lids were rehydrated
    assert not seen & set(victims)


def test_handle_opened_before_compact_keeps_its_docmap(spark, merged_index, tmp_path):
    """A handle is a snapshot: after compact swaps in new docmap files, a
    handle opened before it still looks docids up in ITS files only — the
    lookup of a gone file fails, it never falls through to the new files
    — while a handle opened after compact answers from the new ones."""
    import shutil

    from honeywell_search_engine_spark.index.maintenance import compact, delete_docs
    from honeywell_search_engine_spark.index.segments import SegmentIndex, docids_of_lids

    idx_dir = str(tmp_path / "idx")
    shutil.copytree(merged_index[0], idx_dir)
    old = SegmentIndex(spark, idx_dir)
    try:
        before = _rows(W.bm25_topk_wand(old, "data", k=10))
        delete_docs(idx_dir, [before[0][0]], reason="compact snapshot test")
        compact(spark, idx_dir)
        with SegmentIndex(spark, idx_dir) as new:
            assert not set(old.docmap_files) & set(new.docmap_files)
            assert not set(old.term_stats_files) & set(new.term_stats_files)
            after = _rows(W.bm25_topk_wand(new, "data", k=10))
        assert before[0][0] not in {d for d, _ in after}
        with pytest.raises(FileNotFoundError):
            docids_of_lids(old.docmap_files, np.array([0], dtype=np.int64))
        with pytest.raises(Exception, match="FileNotFound|does not exist"):
            W.bm25_topk_wand(old, "data", k=10).collect()
    finally:
        old.close()
