"""honeywell_search_engine_spark — a PySpark-native full-text inverted-index
build + BM25 top-k query engine.

A from-scratch rebuild of the lexical search core of
mitran06/honeywell-search-engine (reference at /root/reference), re-expressed
Spark-first:

- analyzer kernel (clean / normalize / tokenize) reproducing the reference's
  text semantics (reference: backend/app/worker/tasks.py:64-71,120-133 and
  backend/app/routers/search.py:33-44) as vectorized Arrow UDFs;
- document / corpus statistics (doclen, avgdl, df, ctf) as DataFrame
  aggregates, broadcast for scoring;
- term-partitioned posting-list segments (docid deltas + varbyte block
  compression, per-block max-score metadata) built with salted
  repartition-and-sort to defeat head-term skew, with per-partition lineage
  manifests for checkpointed resume;
- BM25 top-k query engine over the segments (their one durable copy of
  the postings), with block-max WAND pruning inside one mapInArrow task
  body, and Spark-free serving nodes over the same segments.

No per-row Python UDFs anywhere — only pandas_udf / applyInPandas /
mapInPandas / mapInArrow over Arrow batches, plus built-in
pyspark.sql.functions. Sessions from ``get_spark`` run their Python
workers under the engine's daemon (``worker_daemon``).
"""

__version__ = "0.1.0"

K1 = 1.2
B = 0.75


def __getattr__(name):
    """Lazy top-level API (a reference user's one-stop surface) — imported
    on first touch so `import honeywell_search_engine_spark` stays cheap
    and circular-import-free."""
    _api = {
        "get_spark": ("honeywell_search_engine_spark.session", "get_spark"),
        "build_segments": ("honeywell_search_engine_spark.index.segments", "build_segments"),
        "SegmentIndex": ("honeywell_search_engine_spark.index.segments", "SegmentIndex"),
        "bm25_topk_wand": ("honeywell_search_engine_spark.query.wand", "bm25_topk_wand"),
        "bm25_topk_wand_batch": ("honeywell_search_engine_spark.query.wand", "bm25_topk_wand_batch"),
        "bm25_topk_phrase": ("honeywell_search_engine_spark.query.wand", "bm25_topk_phrase"),
        "bm25_topk_phrase_batch": ("honeywell_search_engine_spark.query.wand", "bm25_topk_phrase_batch"),
        "bm25_topk_websearch": ("honeywell_search_engine_spark.query.wand", "bm25_topk_websearch"),
        "bm25_topk_websearch_batch": ("honeywell_search_engine_spark.query.wand", "bm25_topk_websearch_batch"),
        "CachedSearcher": ("honeywell_search_engine_spark.query.cache", "CachedSearcher"),
        "delete_docs": ("honeywell_search_engine_spark.index.maintenance", "delete_docs"),
        "compact": ("honeywell_search_engine_spark.index.maintenance", "compact"),
        "merge_deltas": ("honeywell_search_engine_spark.index.maintenance", "merge_deltas"),
        "stream_postings_delta": ("honeywell_search_engine_spark.streaming.ingest", "stream_postings_delta"),
        "search_response": ("honeywell_search_engine_spark.operators.serving", "search_response"),
        "search_response_indexed": ("honeywell_search_engine_spark.operators.serving", "search_response_indexed"),
        "ServingIndex": ("honeywell_search_engine_spark.query.local", "ServingIndex"),
    }
    if name in _api:
        import importlib

        mod, attr = _api[name]
        return getattr(importlib.import_module(mod), attr)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
