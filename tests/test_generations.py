"""GenerationSet (query/generations.py): serving base + delta indexes as
one logical index must be BIT-EXACT with the eagerly merged index
(merge_deltas) on every query mode — global stats, newest-wins
shadowing, and the df correction for replaced documents all verified
against the merged oracle."""

import os

import pytest

from honeywell_search_engine_spark.index.corpus import (
    docs_from_pages,
    tokenized_docs,
)
from honeywell_search_engine_spark.index.maintenance import merge_deltas
from honeywell_search_engine_spark.index.segments import build_segments
from honeywell_search_engine_spark.query.generations import GenerationSet
from honeywell_search_engine_spark.query.local import ServingIndex
from honeywell_search_engine_spark.sources.pages import (
    PAGES_SCHEMA,
    generate_pages_pdf,
    marker_term,
)
from honeywell_search_engine_spark.streaming.ingest import (
    stream_postings_delta,
)


def _write_slice(spark, pdf, lo, hi, path):
    os.makedirs(path, exist_ok=True)
    sl = spark.createDataFrame(pdf.iloc[lo:hi], schema=PAGES_SCHEMA)
    sl.coalesce(1).write.mode("append").parquet(path)


@pytest.fixture(scope="module")
def gen_fixture(spark, tmp_path_factory):
    """Base index over docs 0..250; delta over docs 220..400 with the
    overlapping 30 docs REWRITTEN (longer text -> doclen and df change,
    so the shadow/df corrections actually bind). Returns
    (base_idx_dir, delta_idx_dir, merged_idx_dir, base_pages, delta_pages)."""
    root = tmp_path_factory.mktemp("gens")
    pdf = generate_pages_pdf(400)
    delta_pdf = pdf.iloc[220:400].copy()
    # re-ingested docs (220..250) change content: append marker-ish words
    mask = delta_pdf.index < 250
    delta_pdf.loc[mask, "text"] = (
        delta_pdf.loc[mask, "text"] + " reingest fresh content versions"
    )

    base_pages = str(root / "pages_base")
    delta_pages = str(root / "pages_delta")
    _write_slice(spark, pdf, 0, 250, base_pages)
    os.makedirs(delta_pages, exist_ok=True)
    spark.createDataFrame(delta_pdf, schema=PAGES_SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(delta_pages)

    def build(pages_dir, out_dir):
        pages = spark.read.schema(PAGES_SCHEMA).parquet(pages_dir)
        build_segments(
            tokenized_docs(docs_from_pages(pages)), out_dir, pages_dir,
            n_buckets=8, n_shards=4, buckets_per_job=8,
        )

    base_idx = str(root / "idx_base")
    delta_idx = str(root / "idx_delta")
    build(base_pages, base_idx)
    build(delta_pages, delta_idx)

    # merged oracle: copy base, stream the delta, merge eagerly
    import shutil

    merged_idx = str(root / "idx_merged")
    shutil.copytree(base_idx, merged_idx)
    delta_dir = str(root / "delta_postings")
    stream_postings_delta(spark, delta_pages, delta_dir, n_buckets=8, n_shards=4)
    summary = merge_deltas(spark, merged_idx, delta_dir)
    # non-en pages are filtered by the corpus pipeline, so compare vs the
    # delta's own doc count rather than a hardcoded 150
    assert summary["docs_added"] > 100
    return base_idx, delta_idx, merged_idx, base_pages, delta_pages


def test_generation_stats_match_merged(gen_fixture):
    base_idx, delta_idx, merged_idx, *_ = gen_fixture
    gs = GenerationSet([base_idx, delta_idx])
    merged = ServingIndex(merged_idx)
    assert gs.n_docs == merged.n_docs
    assert gs.avgdl == pytest.approx(merged.avgdl, rel=0, abs=1e-12)


def test_generation_search_bitexact_vs_merged(gen_fixture):
    base_idx, delta_idx, merged_idx, *_ = gen_fixture
    gs = GenerationSet([base_idx, delta_idx])
    merged = ServingIndex(merged_idx)
    queries = [
        "data search", "web engine", "data", "index query",
        marker_term(0), marker_term(2), "reingest fresh",
        "zzzznotaterm", "",
    ]
    for q in queries:
        for mode in ("and", "or"):
            got = gs.search(q, k=20, mode=mode)
            exp = merged.search(q, k=20, mode=mode)
            assert got == exp, (q, mode)
    # websearch incl. negation + phrases
    for q in [
        "data -search", '"data search" engine', "data or engine",
        'web -"data search"', "reingest -content",
    ]:
        assert gs.search_websearch(q, k=20) == merged.search_websearch(
            q, k=20
        ), q
    # positional modes
    for ph, slop in [("data search", 0), ("data search", 2),
                     ("reingest fresh content", 0)]:
        assert gs.search_phrase(ph, k=20, slop=slop) == (
            merged.search_phrase(ph, k=20, slop=slop)
        ), (ph, slop)
    assert gs.search_near_unordered("data engine", k=20, dist=3) == (
        merged.search_near_unordered("data engine", k=20, dist=3)
    )


def test_generation_plans_each_query_once(gen_fixture, monkeypatch):
    """A GenerationSet analyzes a query once and evaluates the one plan
    in every generation — not once per generation."""
    from honeywell_search_engine_spark.query import wand

    base_idx, delta_idx, merged_idx, *_ = gen_fixture
    gs = GenerationSet([base_idx, delta_idx])
    merged = ServingIndex(merged_idx)
    cases = (
        ("search", "data search"),
        ("search_websearch", '"data search" engine'),
        ("search_phrase", "reingest fresh content"),
    )
    exp = {name: getattr(merged, name)(q, k=20) for name, q in cases}
    calls = []
    real = wand.plan_query
    monkeypatch.setattr(
        wand, "plan_query", lambda *a, **kw: calls.append(a[1]) or real(*a, **kw)
    )
    for name, q in cases:
        calls.clear()
        assert getattr(gs, name)(q, k=20) == exp[name], name
        assert calls == [q], name


def test_generation_shadowing_excludes_old_versions(gen_fixture):
    """A query matching ONLY the old version of a re-ingested doc must
    not surface it from the base generation (newest wins, even when the
    new version doesn't match)."""
    base_idx, delta_idx, merged_idx, *_ = gen_fixture
    gs = GenerationSet([base_idx, delta_idx])
    merged = ServingIndex(merged_idx)
    base_only = ServingIndex(base_idx)
    # find a term whose postings include a shadowed (re-ingested) doc
    shadowed = {
        d for d, _ in base_only.search("data", k=10_000, mode="or")
    } & {
        d
        for d, _ in ServingIndex(delta_idx).search(
            "reingest", k=10_000, mode="or"
        )
    }
    assert shadowed  # the fixture really re-ingested matching docs
    got = {d for d, _ in gs.search("data", k=10_000, mode="or")}
    exp = {d for d, _ in merged.search("data", k=10_000, mode="or")}
    assert got == exp


def test_generation_df_correction_binds(gen_fixture):
    """Global df for a term present in replaced base docs must equal the
    merged index's df (base df minus shadowed postings plus delta df)."""
    base_idx, delta_idx, merged_idx, *_ = gen_fixture
    gs = GenerationSet([base_idx, delta_idx])
    merged = ServingIndex(merged_idx)
    assert gs._df_corr, "fixture produced no shadowed postings"
    term = max(gs._df_corr, key=gs._df_corr.get)
    df, _rows = gs._rows_for([term])
    _df, merged_rows = merged._rows_for([term])
    assert df[term] == merged_rows[term].n  # one list over every shard


def test_generation_first_touch_reads(gen_fixture, monkeypatch):
    """A first-touch query on a fresh two-generation set opens each
    generation's segments once and never term_stats: the logical df is
    summed from the posting rows the members read anyway."""
    import pyarrow.dataset as ds

    base_idx, delta_idx, *_ = gen_fixture
    gs = GenerationSet([base_idx, delta_idx])
    opened = []
    real = ds.dataset

    def counting(source, *a, **kw):
        opened.append(str(source))
        return real(source, *a, **kw)

    monkeypatch.setattr(ds, "dataset", counting)
    assert gs.search("data search reingest", k=10, mode="or")
    assert opened == [f"{base_idx}/segments", f"{delta_idx}/segments"]


def test_generation_scope_and_tombstones(gen_fixture, tmp_path):
    """allowed_docids scope spans generations; a tombstone issued against
    every generation dir kills the doc exactly like on the merged index."""
    import shutil

    from honeywell_search_engine_spark.index.maintenance import delete_docs

    base_idx, delta_idx, merged_idx, *_ = gen_fixture
    gs0 = GenerationSet([base_idx, delta_idx])
    merged0 = ServingIndex(merged_idx)
    hits = merged0.search("data search", k=50)
    assert hits
    scope = [d for d, _ in hits[:5]] + [123456789]
    assert gs0.search("data search", k=10, allowed_docids=scope) == (
        merged0.search("data search", k=10, allowed_docids=scope)
    )
    # tombstones: work on copies so the module fixture stays pristine
    b2 = str(tmp_path / "b2"); d2 = str(tmp_path / "d2"); m2 = str(tmp_path / "m2")
    shutil.copytree(base_idx, b2)
    shutil.copytree(delta_idx, d2)
    shutil.copytree(merged_idx, m2)
    victims = [hits[0][0], hits[2][0]]
    for p in (b2, d2, m2):
        delete_docs(p, victims, reason="generation test")
    gs = GenerationSet([b2, d2])
    merged = ServingIndex(m2)
    got = gs.search("data search", k=50)
    assert got == merged.search("data search", k=50)
    assert not set(victims) & {d for d, _ in got}


def test_generation_response_rows(gen_fixture, spark, tmp_path):
    """search_response over generations: per-generation text stores,
    newest text wins for re-ingested docs; rows equal the merged index's
    response over the merged (newest-text) docs store."""
    base_idx, delta_idx, merged_idx, base_pages, delta_pages = gen_fixture
    from honeywell_search_engine_spark.sources.pages import read_pages

    base_docs = str(tmp_path / "docs_base")
    delta_docs = str(tmp_path / "docs_delta")
    merged_docs = str(tmp_path / "docs_merged")
    bd = docs_from_pages(read_pages(spark, base_pages)).select("docid", "text")
    dd = docs_from_pages(read_pages(spark, delta_pages)).select("docid", "text")
    bd.write.parquet(base_docs)
    dd.write.parquet(delta_docs)
    # merged store: newest text per docid
    bd.join(dd.select("docid"), "docid", "left_anti").unionByName(dd).write.parquet(
        merged_docs
    )

    gs = GenerationSet([base_idx, delta_idx])
    gs.attach_docs([base_docs, delta_docs])
    merged = ServingIndex(merged_idx)
    merged.attach_docs(merged_docs)
    for q in ["data search", "reingest fresh", "web engine"]:
        assert gs.search_response(q, k=5) == merged.search_response(q, k=5), q
    assert gs.search_response("data search", k=5, rerank_from=30) == (
        merged.search_response("data search", k=5, rerank_from=30)
    )


def test_logical_stats_vectorized_no_per_doc_python(tmp_path):
    """Round-6 verdict #1: opening a GenerationSet over a million-doc
    docmap must not materialize docmap values into Python objects
    (to_pylist) or loop per doc. _logical_stats (the startup computation)
    is exercised directly over synthetic docmaps: 1M base docs + a 10k
    generation re-ingesting 2k of them, with a source-level to_pylist ban
    (pyarrow's C types are immutable, so the ban is static), a wall-clock
    bound, and exact-value assertions against an independent numpy
    reference."""
    import inspect
    import json
    import time

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from honeywell_search_engine_spark.query.generations import _logical_stats

    src = inspect.getsource(_logical_stats)
    assert "to_pylist" not in src, "per-doc Python materialization crept back"

    rng = np.random.default_rng(7)
    n_base, n_gen, n_overlap = 1_000_000, 10_000, 2_000
    base_ids = rng.choice(np.int64(2) ** 60, size=n_base, replace=False)
    base_dl = rng.integers(10, 300, size=n_base).astype(np.int64)
    gen_ids = np.concatenate(
        [base_ids[:n_overlap], base_ids.max() + 1 + np.arange(n_gen - n_overlap)]
    )
    gen_dl = rng.integers(10, 300, size=n_gen).astype(np.int64)

    def mk(path, ids, dls):
        os.makedirs(f"{path}/docmap", exist_ok=True)
        pq.write_table(
            pa.table({"docid": ids, "doclen": dls}),
            f"{path}/docmap/part-0.parquet",
        )
        with open(f"{path}/stats.json", "w") as f:
            json.dump(
                {
                    "n_docs": len(ids),
                    "sum_doclen": int(dls.sum()),
                    "avgdl": float(dls.sum()) / len(ids),
                },
                f,
            )

    base_p, gen_p = str(tmp_path / "base"), str(tmp_path / "gen")
    mk(base_p, base_ids, base_dl)
    mk(gen_p, gen_ids, gen_dl)

    t0 = time.time()
    n_docs, total, shadows = _logical_stats([base_p, gen_p])
    elapsed = time.time() - t0

    # independent reference (newest wins: the overlap shadows BASE rows)
    exp_n = n_base + n_gen - n_overlap
    shadow_mask = np.isin(base_ids, gen_ids)
    exp_total = int(base_dl.sum()) + int(gen_dl.sum()) - int(
        base_dl[shadow_mask].sum()
    )
    assert n_docs == exp_n
    assert total == exp_total
    assert sorted(shadows[0].tolist()) == sorted(
        base_ids[shadow_mask].tolist()
    )
    assert shadows[1].size == 0
    assert elapsed < 10.0, f"startup took {elapsed:.1f}s at 1M docs"


def test_logical_stats_sum_doclen_fallback(tmp_path):
    """A pre-r7 stats.json (no sum_doclen) falls back to ONE vectorized
    doclen column sum — same exact totals."""
    import json

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from honeywell_search_engine_spark.query.generations import _logical_stats

    ids = np.arange(1000, dtype=np.int64)
    dls = np.arange(1000, dtype=np.int64) % 50 + 1
    os.makedirs(f"{tmp_path}/idx/docmap", exist_ok=True)
    pq.write_table(
        pa.table({"docid": ids, "doclen": dls}),
        f"{tmp_path}/idx/docmap/part-0.parquet",
    )
    with open(f"{tmp_path}/idx/stats.json", "w") as f:
        json.dump({"n_docs": 1000, "avgdl": float(dls.mean())}, f)
    n_docs, total, shadows = _logical_stats([str(tmp_path / "idx")])
    assert n_docs == 1000 and total == int(dls.sum())
    assert all(s.size == 0 for s in shadows)


def test_build_journals_sum_doclen(gen_fixture):
    """build_segments journals the exact integer Σdoclen next to
    n_docs/avgdl — the field GenerationSet startup reads instead of
    scanning the docmap."""
    import json

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    base_idx, *_ = gen_fixture
    with open(f"{base_idx}/stats.json") as f:
        meta = json.load(f)
    col = pq.read_table(f"{base_idx}/docmap", columns=["doclen"]).column(
        "doclen"
    )
    assert meta["sum_doclen"] == int(pc.sum(col).as_py())
    assert meta["n_docs"] > 0
    assert meta["avgdl"] == pytest.approx(
        meta["sum_doclen"] / meta["n_docs"], rel=0, abs=1e-12
    )


def test_generation_fetch_texts_newest_empty_wins(gen_fixture, spark, tmp_path):
    """r6 advice (low): a re-ingested document whose NEWEST text is
    genuinely empty must serve '', not the older generation's stale
    text — absence from a generation's store keeps falling through,
    presence (even empty) wins."""
    base_idx, delta_idx, *_ = gen_fixture
    gs = GenerationSet([base_idx, delta_idx])
    # one docid per generation membership case
    import pyarrow.parquet as pq

    base_ids = set(
        pq.read_table(f"{base_idx}/docmap", columns=["docid"])
        .column("docid").to_pylist()
    )
    delta_ids = set(
        pq.read_table(f"{delta_idx}/docmap", columns=["docid"])
        .column("docid").to_pylist()
    )
    shadowed = sorted(base_ids & delta_ids)[0]  # re-ingested doc
    base_only = sorted(base_ids - delta_ids)[0]
    base_store = str(tmp_path / "docs_base")
    delta_store = str(tmp_path / "docs_delta")
    spark.createDataFrame(
        [(int(shadowed), "old stale text"), (int(base_only), "base text")],
        "docid long, text string",
    ).write.parquet(base_store)
    # newest store HAS the shadowed doc with EMPTY text
    spark.createDataFrame(
        [(int(shadowed), "")], "docid long, text string"
    ).write.parquet(delta_store)
    gs.attach_docs([base_store, delta_store])
    got = gs._fetch_texts([int(shadowed), int(base_only), 424242])
    assert got[int(shadowed)] == ""          # newest (empty) wins
    assert got[int(base_only)] == "base text"  # falls through to base
    assert got[424242] == ""                 # absent everywhere -> ""


def test_attach_docs_cache_entries_knob(gen_fixture, spark, tmp_path):
    """r6 advice (low): attach_docs' advertised doc_cache_entries knob
    actually bounds the document LRU."""
    base_idx, *_ = gen_fixture
    import pyarrow.parquet as pq

    ids = sorted(
        pq.read_table(f"{base_idx}/docmap", columns=["docid"])
        .column("docid").to_pylist()
    )[:6]
    store = str(tmp_path / "docs_knob")
    spark.createDataFrame(
        [(int(d), f"text {d}") for d in ids], "docid long, text string"
    ).write.parquet(store)
    sv = ServingIndex(base_idx)
    sv.attach_docs(store, doc_cache_entries=2)
    sv._fetch_texts([int(d) for d in ids])
    assert len(sv._doc_lru) <= 2


def test_logical_stats_rejects_intra_generation_duplicates(tmp_path):
    """A docmap carrying the same docid twice is malformed (builders
    assign unique docids); _logical_stats fails loud instead of serving
    double-counted stats."""
    import json

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from honeywell_search_engine_spark.query.generations import _logical_stats

    ids = np.array([1, 2, 2, 3], dtype=np.int64)
    dls = np.array([5, 6, 7, 8], dtype=np.int64)
    os.makedirs(f"{tmp_path}/idx/docmap", exist_ok=True)
    pq.write_table(
        pa.table({"docid": ids, "doclen": dls}),
        f"{tmp_path}/idx/docmap/part-0.parquet",
    )
    with open(f"{tmp_path}/idx/stats.json", "w") as f:
        json.dump({"n_docs": 4, "sum_doclen": 26, "avgdl": 6.5}, f)
    with pytest.raises(ValueError, match="duplicate docids"):
        _logical_stats([str(tmp_path / "idx")])
