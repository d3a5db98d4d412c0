"""Build the benchmark's cached inputs: the shared pages corpus, its segment
index, the oracle over it, phrase sources, and the small ingest base.

Runs in its own process (``python3 perfbench/prepare.py``) so that a
workload without Spark never has a JVM in its process. The cache directory
is keyed by ``common.fingerprint()``; the build writes to a temporary
directory and renames it into place, under a file lock.
"""

from __future__ import annotations

import fcntl
import json
import os
import pickle
import shutil
import sys
import time

import common as C

PHRASE_DOCS = 400
PHRASE_TOKENS = 80


def en_docs(pages_path: str) -> list[tuple[int, str]]:
    import pyarrow.parquet as pq

    from honeywell_search_engine_spark.index.corpus import docid_py

    t = pq.read_table(pages_path, columns=["url", "text", "lang"])
    return [
        (docid_py(u), x)
        for u, x, lang in zip(t.column("url").to_pylist(), t.column("text").to_pylist(),
                              t.column("lang").to_pylist())
        if lang == "en"
    ]


def segment_stats(index_dir: str) -> tuple[int, int]:
    """(on-disk segment bytes, postings) of an index directory."""
    import pyarrow.parquet as pq

    seg = os.path.join(index_dir, "segments")
    n = pq.read_table(seg, columns=["n"]).column("n").to_numpy().sum()
    return C.tree_bytes(seg), int(n)


def build_index(spark, pages_path: str, out: str, n_buckets: int, n_shards: int) -> None:
    from honeywell_search_engine_spark.index.corpus import docs_from_pages, tokenized_docs
    from honeywell_search_engine_spark.index.segments import build_segments
    from honeywell_search_engine_spark.sources.pages import read_pages

    tok = tokenized_docs(docs_from_pages(read_pages(spark, pages_path)))
    build_segments(tok, out, pages_path, n_buckets=n_buckets, n_shards=n_shards,
                   buckets_per_job=n_buckets, codec_fmt=C.CODEC)


def build(dst: str) -> None:
    from honeywell_search_engine_spark.functions.analyzer import analyze
    from honeywell_search_engine_spark.oracle import OracleIndex
    from honeywell_search_engine_spark.sources.pages import (
        write_pages_table,
        write_pages_table_spark,
    )

    spark = C.get_spark("perfbench-prepare")
    try:
        t0 = time.time()
        pages = os.path.join(dst, "pages")
        write_pages_table_spark(spark, pages, C.CORPUS_DOCS, seed=C.CORPUS_SEED,
                                partitions=max(C.cores(), 4))
        build_index(spark, pages, os.path.join(dst, "index"), C.N_BUCKETS, C.N_SHARDS)
        ingest_pages = os.path.join(dst, "ingest_pages.parquet")
        write_pages_table(ingest_pages, C.INGEST_BASE_DOCS, seed=C.CORPUS_SEED + 1)
        build_index(spark, ingest_pages, os.path.join(dst, "ingest_index"),
                    C.INGEST_BUCKETS, C.INGEST_SHARDS)
    finally:
        spark.stop()

    docs = en_docs(pages)
    with open(os.path.join(dst, "oracle.pkl"), "wb") as f:
        pickle.dump(OracleIndex.build(docs), f, protocol=pickle.HIGHEST_PROTOCOL)
    step = max(len(docs) // PHRASE_DOCS, 1)
    phrases = [analyze(text)[:PHRASE_TOKENS] for _, text in docs[::step]]
    with open(os.path.join(dst, "phrases.json"), "w") as f:
        json.dump(phrases, f)
    seg_bytes, postings = segment_stats(os.path.join(dst, "index"))
    meta = {
        "corpus_docs": C.CORPUS_DOCS,
        "indexed_docs": len(docs),
        "text_bytes": sum(len(t.encode()) for _, t in docs),
        "segment_bytes": seg_bytes,
        "postings": postings,
        "index_bytes": C.tree_bytes(os.path.join(dst, "index")),
        "build_s": round(time.time() - t0, 1),
    }
    with open(os.path.join(dst, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1)


def ensure() -> str:
    """Return the ready cache directory, building it when missing."""
    dst = C.cache_dir()
    if os.path.exists(os.path.join(dst, "meta.json")):
        return dst
    os.makedirs(C.CACHE_ROOT, exist_ok=True)
    with open(os.path.join(C.CACHE_ROOT, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(os.path.join(dst, "meta.json")):
            return dst
        for old in os.listdir(C.CACHE_ROOT):  # one engine version at a time
            if not old.startswith("."):
                shutil.rmtree(os.path.join(C.CACHE_ROOT, old), ignore_errors=True)
        tmp = dst + ".tmp"
        os.makedirs(tmp)
        build(tmp)
        os.replace(tmp, dst)
    return dst


if __name__ == "__main__":
    C.use_repo_imports()
    print(ensure())
    sys.exit(0)
