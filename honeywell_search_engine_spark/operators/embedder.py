"""Deterministic model-free text embedder: hashed TF-IDF (the "hashing
trick") — the semantic channel run end-to-end from text, no model weights.

The reference's semantic channel embeds chunks with a sentence-transformer
and searches Qdrant (backend/app/services/embeddings/embedder.py:13-18,
backend/app/routers/search.py:62-70) — model weights are out of scope here
(SURVEY §2), but the CHANNEL need not be: a hashed TF-IDF projection is a
classical, public, deterministic embedder (feature hashing / "hashing
trick", Weinberger et al. 2009) that gives every document a dense
`dim`-vector from its token stream alone:

    emb[j](doc) = Σ_{t : h(t)=j}  s(t) · ln(1+tf(t,doc)) · idf(t)

with h/s md5-derived (bucket + sign), so — like rp_planes_md5 — a DuckDB
oracle replays the IDENTICAL floats and the driver gate can hash-compare
full vectors. Documents about the same terms land near each other in
cosine space, which is exactly what the fusion/ANN/near-dup operators need
to run realistically: text_embeddings feeds cosine_topk_bruteforce,
cosine_ann_lsh, pairwise_cosine_dupes_lsh_banded, and rrf fusion with BM25
for a full hybrid retrieval stack (R3/N3/N4 analog, deterministic).

Scale: one tokenize pass, one tf shuffle, a BROADCAST join of the
per-term table (vocab-sized), one groupBy(docid) — the same shape as the
BM25 in-flight plan. No Python anywhere (md5/conv/aggregate are JVM
expressions inside whole-stage codegen).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from honeywell_search_engine_spark.index.stats import idf_col
from honeywell_search_engine_spark.operators.search import doc_term_freqs

DIM = 64


def _hash_j(term_col, dim: int):
    """Feature bucket: first 15 md5 hex digits (60 bits) mod dim."""
    return F.pmod(
        F.conv(F.substring(F.md5(F.concat(F.lit("emb:"), term_col)), 1, 15), 16, 10)
        .cast("long"),
        F.lit(dim),
    ).cast("int")


def _hash_sign(term_col):
    """±1 from the 17th md5 hex digit's parity."""
    return F.when(
        F.pmod(
            F.conv(F.substring(F.md5(F.concat(F.lit("emb:"), term_col)), 17, 1), 16, 10)
            .cast("long"),
            F.lit(2),
        )
        == 0,
        F.lit(1.0),
    ).otherwise(F.lit(-1.0))


def _term_table(tf: DataFrame, dim: int) -> DataFrame:
    """(term, j, sign, idf) — vocab-sized, meant to ride a broadcast.
    idf = log1p((N - df + 0.5)/(df + 0.5)), the engine's shared BM25 idf.
    N rides the plan as a broadcast 1-row aggregate — NOT a driver-side
    count() action, which would run a second full tokenize pass over the
    corpus before the real job even starts (plan-audit find, round 4)."""
    nd = tf.agg(F.count_distinct("docid").alias("nd"))
    return (
        tf.groupBy("term")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(nd))
        .select(
            "term",
            _hash_j(F.col("term"), dim).alias("j"),
            _hash_sign(F.col("term")).alias("sign"),
            idf_col(F.col("df"), F.col("nd").cast("double")).alias("idf"),
        )
    )


def text_embeddings(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = DIM,
    stem: bool = False,
) -> DataFrame:
    """(docid, embedding array<double> length `dim`, each cell rounded
    1e-6). Deterministic: cell sums run in lexicographic term order (the
    engine-wide float contract), so DuckDB replays vectors bit-for-bit.

    At 10^12 rows this is the embed step of the ingest pipeline: write the
    result as a column of the corpus table and every similarity operator
    (knn_*, cosine_dupes_*) runs on it unchanged."""
    tf = doc_term_freqs(docs, id_col, text_col, stem=stem)
    ti = _term_table(tf, dim)
    cells = (
        tf.join(F.broadcast(ti), "term")
        .withColumn(
            "c", F.col("sign") * F.log1p(F.col("tf").cast("double")) * F.col("idf")
        )
        .groupBy("docid", "j")
        .agg(
            F.sort_array(F.collect_list(F.struct("term", "c"))).alias("cs")
        )
        .select(
            "docid",
            "j",
            F.aggregate("cs", F.lit(0.0), lambda a, x: a + x["c"]).alias("v"),
        )
    )
    return (
        cells.groupBy("docid")
        .agg(F.map_from_entries(F.collect_list(F.struct("j", "v"))).alias("m"))
        .select(
            F.col("docid").cast("long").alias("docid"),
            F.transform(
                # element_at on a MAP is lookup by key (int j), not 1-based
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda j: F.round(F.coalesce(F.element_at("m", j), F.lit(0.0)), 6),
            ).alias("embedding"),
        )
    )


def _query_cells(query: str, ti: DataFrame, stem: bool = False) -> DataFrame:
    """1-row (qm map<int,double>): the query embedded with the SAME term
    table (corpus idf) — tf = occurrences within the query, sublinear like
    the docs. Terms absent from the corpus contribute nothing (their idf
    is undefined without df; Postgres likewise drops unknown lexemes)."""
    from collections import Counter

    from honeywell_search_engine_spark.functions.analyzer import tokenize

    if stem:
        from honeywell_search_engine_spark.functions.analyzer import (
            tokenize_stemmed as tokenize,  # noqa: F811
        )

    qtf = Counter(tokenize(query))
    if not qtf:
        return None
    spark = ti.sparkSession
    qdf = spark.createDataFrame(
        sorted(qtf.items()), "term string, qtf int"
    )
    return (
        qdf.join(F.broadcast(ti), "term")
        .withColumn(
            "c", F.col("sign") * F.log1p(F.col("qtf").cast("double")) * F.col("idf")
        )
        .groupBy("j")
        .agg(F.sort_array(F.collect_list(F.struct("term", "c"))).alias("cs"))
        .select("j", F.aggregate("cs", F.lit(0.0), lambda a, x: a + x["c"]).alias("v"))
        .agg(F.map_from_entries(F.collect_list(F.struct("j", "v"))).alias("qm"))
    )


def semantic_topk(
    docs: DataFrame,
    query: str,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = DIM,
    stem: bool = False,
) -> DataFrame:
    """End-to-end semantic top-k FROM TEXT: embed corpus + query with the
    shared hashed-TF-IDF kernel, rank by cosine. (rnk, docid, cos_r).
    Docs with an all-zero embedding (no corpus-known tokens) are excluded
    (cosine undefined), as is a query with none.

    One plan: tf shuffle -> broadcast term table -> cell sums -> cosine ->
    TakeOrderedAndProject(k). The semantic half of the hybrid stack; fuse
    with bm25_inflight via operators/relational.rrf_fusion."""
    spark = docs.sparkSession
    empty = spark.createDataFrame([], "rnk int, docid long, cos_r double")
    tf = doc_term_freqs(docs, id_col, text_col, stem=stem)
    ti = _term_table(tf, dim)
    qm = _query_cells(query, ti, stem=stem)
    if qm is None:
        return empty

    cells = (
        tf.join(F.broadcast(ti), "term")
        .withColumn(
            "c", F.col("sign") * F.log1p(F.col("tf").cast("double")) * F.col("idf")
        )
        .groupBy("docid", "j")
        .agg(F.sort_array(F.collect_list(F.struct("term", "c"))).alias("cs"))
        .select(
            "docid",
            "j",
            F.aggregate("cs", F.lit(0.0), lambda a, x: a + x["c"]).alias("v"),
        )
    )
    # dot/norms per doc over the sparse cells: join the 1-row query map in
    # (broadcast), sum v*qv over the doc's nonzero cells in j order; query
    # norm over the map's values in j order (engine-wide float contract)
    scored = (
        cells.crossJoin(F.broadcast(qm))
        .withColumn("qv", F.coalesce(F.element_at("qm", F.col("j")), F.lit(0.0)))
        .groupBy("docid")
        .agg(
            F.sort_array(F.collect_list(F.struct("j", "v", "qv"))).alias("cells"),
            F.first("qm").alias("qm"),
        )
        .select(
            "docid",
            F.aggregate(
                "cells", F.lit(0.0), lambda a, x: a + x["v"] * x["qv"]
            ).alias("dot"),
            F.sqrt(
                F.aggregate(
                    "cells", F.lit(0.0), lambda a, x: a + x["v"] * x["v"]
                )
            ).alias("dn"),
            F.sqrt(
                F.aggregate(
                    F.array_sort(F.map_entries("qm")),
                    F.lit(0.0),
                    lambda a, x: a + x["value"] * x["value"],
                )
            ).alias("qn"),
        )
        .filter((F.col("dn") > 0.0) & (F.col("qn") > 0.0))
        .select("docid", (F.col("dot") / (F.col("dn") * F.col("qn"))).alias("cos"))
    )
    topk = scored.orderBy(F.desc("cos"), F.asc("docid")).limit(k)
    w = Window.orderBy(F.desc("cos"), F.asc("docid"))
    return topk.select(
        F.row_number().over(w).alias("rnk"),
        F.col("docid").cast("long").alias("docid"),
        F.round("cos", 6).alias("cos_r"),
    )
