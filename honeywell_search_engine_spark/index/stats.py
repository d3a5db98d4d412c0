"""Corpus + term statistics as DataFrame aggregates (north_rule requirement).

The reference never materializes these — Postgres' ts_rank_cd owns them
implicitly (backend/app/services/search/fusion.py:39). Here they are plain
``groupBy().agg()`` outputs: `docs(docid, doclen)`, scalar `(N, avgdl)`,
and `term_stats(term, df, ctf, idf)`; the scalars and the (small) term
dictionary are broadcast to the scoring stage.

idf is Lucene-style BM25 idf: ln(1 + (N - df + 0.5)/(df + 0.5)) — always
positive, computed in float64.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, functions as F

from honeywell_search_engine_spark import B, K1


@dataclass
class CorpusStats:
    n_docs: int
    avgdl: float


def corpus_stats(tok_docs: DataFrame) -> CorpusStats:
    """(docid, ..., doclen) -> scalar N, avgdl. One job, tiny result."""
    row = tok_docs.agg(
        F.count("*").alias("n"), F.avg("doclen").alias("avgdl")
    ).collect()[0]
    return CorpusStats(n_docs=row["n"], avgdl=float(row["avgdl"] or 0.0))


def term_stats(postings: DataFrame, n_docs: int) -> DataFrame:
    """postings(term, docid, tf) -> (term, df, ctf, idf).

    df = doc frequency, ctf = collection term frequency. One shuffle on
    `term`; partial aggregation makes the exchange carry one row per
    (term, map-partition).
    """
    return postings.groupBy("term").agg(
        F.count("*").alias("df"),
        F.sum("tf").alias("ctf"),
    ).withColumn("idf", idf_col(F.col("df"), n_docs))


def idf_col(df: Column, n_docs) -> Column:
    """The BM25 idf of a document-frequency Column as a float64 Column:
    log1p((N - df + 0.5) / (df + 0.5)). `n_docs` is a Column or a number.
    The association order is the one the oracle's scalar idf uses, so the
    two agree bit-for-bit."""
    n = n_docs if isinstance(n_docs, Column) else F.lit(float(n_docs))
    return F.log1p((n - df + F.lit(0.5)) / (df + F.lit(0.5)))


def bm25_part_col(tf, doclen, idf, avgdl: float):
    """The per-(term, doc) BM25 contribution as a float64 Column:
    idf * (tf*(k1+1) / (tf + k1*(1 - b + b*doclen/avgdl))).

    The association order idf * (u) — u first, then the idf product — is
    the contract shared with the oracle and the segment codec (bm25_u), so
    all three paths produce bit-identical float64 scores."""
    tf_d = tf.cast("double")
    norm = F.lit(K1) * (
        F.lit(1.0 - B) + F.lit(B) * doclen.cast("double") / F.lit(float(avgdl))
    )
    return idf * (tf_d * F.lit(K1 + 1.0) / (tf_d + norm))


def build_stats(tok_docs: DataFrame, postings: DataFrame):
    cs = corpus_stats(tok_docs)
    ts = term_stats(postings, cs.n_docs)
    return cs, ts
