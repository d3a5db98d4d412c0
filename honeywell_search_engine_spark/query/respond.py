"""Serving-node response composition — pure-Python mirrors of the Spark
response operators, run over only the k hit documents.

Why this exists: the reference's serving process returns the FULL API row
per hit — snippet, highlight tokens, lexical step score, OIE flag,
confidence (reference backend/app/routers/search.py:163-166) — and the
engine has those operators Spark-side (operators/serving.py:best_snippet,
operators/search.py:highlight_terms/naive_triples, the confidence fusion
in operators/serving._compose_response). A serving node must emit that row
without a Spark job: top-k is ~10 docs, so the composition is trivially
driver-sized — the expensive part (BM25 over the corpus) already ran on
the pruned posting lists.

Every function here mirrors one Spark expression tree exactly (same
regexes, same trim/step/cap semantics, Spark HALF_UP rounding); parity is
pinned in tests/test_serving.py::test_serving_search_response_equals_spark
against operators/serving.search_response_indexed on the reference query
set.

At 100 TB the text fetch is the standard forward-index lookup: a serving
node reads the k hit documents' text rows from the docs table (here a
pyarrow filtered parquet read; in a real deployment a KV/doc store keyed
by docid). The composition itself is O(k · doc_len) Python — never
corpus-sized.
"""

from __future__ import annotations

import math
import re
from decimal import ROUND_HALF_UP, Decimal

from honeywell_search_engine_spark.functions.analyzer import (
    analyze_query,
    tokenize,
)

_SENT_RE = re.compile(r"[.!?]+\s+")
_WORD_RE = re.compile(r"\s+")

#: mirrors operators/serving.best_snippet(min_chars=20)
SNIPPET_MIN_CHARS = 20
#: mirrors operators/search.highlight_terms(cap=8)
HIGHLIGHT_CAP = 8
#: mirrors operators/search.naive_triples(cap=3)
TRIPLE_CAP = 3


def round_half_up(x: float, digits: int = 6) -> float:
    """Spark's F.round on a double: shortest-repr decimal, HALF_UP at
    `digits` — NOT Python round() (banker's), which differs at exact
    .5 ties."""
    return float(
        Decimal(repr(float(x))).quantize(
            Decimal(1).scaleb(-digits), rounding=ROUND_HALF_UP
        )
    )


def _sentences(text: str) -> list[str]:
    """F.split(text, r'[.!?]+\\s+') then F.trim — Spark trim removes
    ASCII spaces only, so strip(' '), not strip()."""
    return [s.strip(" ") for s in _SENT_RE.split(text)]


def best_snippet_py(
    text: str, qterms: list[str], min_chars: int = SNIPPET_MIN_CHARS
) -> tuple[str, float, float]:
    """(snippet, overlap, lex_step) — mirror of
    operators/serving.best_snippet for ONE document: sentences longer
    than `min_chars`, ranked by |distinct tokens ∩ qterms| / |qterms|,
    first sentence wins ties; no qualifying sentence -> ('', 0.0, 0.0)
    (reference search.py:47-65)."""
    if not qterms:
        return "", 0.0, 0.0
    qset = set(qterms)
    nq = float(len(qterms))
    best_s, best_o = "", -1.0
    for sent in (s for s in _sentences(text) if len(s) > min_chars):
        o = len(set(tokenize(sent)) & qset) / nq
        if o > best_o:
            best_s, best_o = sent, o
    if best_o < 0.0:
        return "", 0.0, 0.0
    if best_o >= 0.9:
        step = 1.0
    elif best_o >= 0.75:
        step = 0.7
    elif best_o >= 0.5:
        step = 0.5
    else:
        step = 0.0
    return best_s, best_o, step


def highlights_py(
    text: str, qterms: list[str], cap: int = HIGHLIGHT_CAP
) -> str:
    """Space-joined highlight tokens — mirror of
    operators/search.highlight_terms + the concat_ws in
    _compose_response: sorted(distinct doc tokens ∩ qterms)[:cap]
    (reference search.py:165, deterministic-sort deviation per
    SURVEY.md §2.7 T4)."""
    if not qterms:
        return ""
    return " ".join(sorted(set(tokenize(text)) & set(qterms))[:cap])


def has_oie_py(text: str, qterms: list[str], cap: int = TRIPLE_CAP) -> int:
    """1 if any naive triple of the doc shares a token with the query —
    mirror of operators/search.naive_triples (first `cap` non-empty
    sentences, >=3 whitespace words -> (w0, w1, rest), reference
    tasks.py:147-155) + the triple-match aggregate in _compose_response
    (reference fusion.py:73-88)."""
    if not qterms:
        return 0
    qset = set(qterms)
    sents = [s for s in _sentences(text) if len(s) > 0][:cap]
    for sent in sents:
        w = _WORD_RE.split(sent)
        if len(w) >= 3:
            trip = f"{w[0]} {w[1]} {' '.join(w[2:])}"
            if set(tokenize(trip)) & qset:
                return 1
    return 0


def confidence_py(lex_step: float, has_oie: int) -> int:
    """floor(min(1, 0.35*lex + 0.10*oie) * 100) — the model-free linear
    confidence fusion of _compose_response (sem channel = 0, no
    embedding model in scope; reference fusion.py confidence weights)."""
    return int(math.floor(min(1.0, 0.35 * lex_step + 0.10 * has_oie) * 100))


def compose_response_rows(
    hits: list[tuple[int, float]],
    texts: dict[int, str],
    query: str,
) -> list[tuple]:
    """hits [(docid, score)] (already ordered) + docid->text ->
    [(rnk, docid, score_r, snippet, highlights, lex_score, has_oie,
    confidence)] — the exact row of operators/serving.search_response.
    A hit whose text is missing from the store composes like an empty
    document (the Spark path's left joins null->default semantics)."""
    qterms = analyze_query(query)
    out = []
    for rnk, (docid, score) in enumerate(hits, start=1):
        text = texts.get(docid, "")
        snippet, _overlap, lex = best_snippet_py(text, qterms)
        oie = has_oie_py(text, qterms)
        out.append(
            (
                rnk,
                int(docid),
                round_half_up(score, 6),
                snippet,
                highlights_py(text, qterms),
                lex,
                oie,
                confidence_py(lex, oie),
            )
        )
    return out


def search_response(
    index,
    query: str,
    k: int = 10,
    mode: str = "and",
    rerank_from: int | None = None,
) -> list[tuple]:
    """The full response rows of a serving front end — the body of
    QuerySurface.search_response (query/local.py), shared by
    ServingIndex, ShardRouter and GenerationSet; `index` needs
    ``search`` and ``_fetch_texts``, and ``attach_docs`` must have been
    called: the top-k hits of ``index.search``, composed over only those
    k documents' texts. `rerank_from=N` takes the disjunctive top-N instead, reranks
    it (rerank_hits_py) and composes the top-k of that order."""
    if not hasattr(index, "_docs_path"):
        raise ValueError(
            "no text store attached — call attach_docs(docs_path) first"
        )
    if rerank_from is not None:
        cands = index.search(query, k=rerank_from, mode="or")
        texts = index._fetch_texts([d for d, _ in cands])
        ranked = rerank_hits_py(cands, texts, analyze_query(query), k_out=k)
        hits = [(d, rr) for _rnk, d, rr, _sr in ranked]
        return compose_response_rows(hits, texts, query)
    hits = index.search(query, k=k, mode=mode)
    return compose_response_rows(
        hits, index._fetch_texts([d for d, _ in hits]), query
    )


def fetch_texts(
    docs_path: str,
    docids: list[int],
    id_col: str = "docid",
    text_col: str = "text",
    dataset=None,
) -> dict[int, str]:
    """docid -> text for the hit set: a pyarrow filtered read of the docs
    parquet (predicate pushed to row groups — k ids, not a scan). The
    KV-store analog of the deployment story. Pass a pre-opened
    `dataset` to skip the per-query metadata/listing walk (ServingIndex
    opens it once at attach_docs)."""
    import pyarrow.dataset as ds

    if not docids:
        return {}
    data = dataset if dataset is not None else ds.dataset(
        docs_path, format="parquet"
    )
    tbl = data.to_table(
        filter=ds.field(id_col).isin([int(d) for d in docids]),
        columns=[id_col, text_col],
    )
    return {
        int(i): (t if t is not None else "")
        for i, t in zip(
            tbl.column(id_col).to_pylist(), tbl.column(text_col).to_pylist()
        )
    }


# R7 analog serving-side: mirror of operators/serving.rerank_topk's
# feature expressions (same weights, same min-max, same HALF_UP round).
RERANK_WEIGHTS = {
    "bm25_n": 0.50,
    "cov": 0.20,
    "prox": 0.15,
    "density": 0.10,
    "early": 0.05,
}


def rerank_hits_py(
    hits: list[tuple[int, float]],
    texts: dict[int, str],
    qterms: list[str],
    k_out: int = 10,
) -> list[tuple[int, int, float, float]]:
    """[(rnk, docid, rerank_r, score_r)] — mirror of
    operators/serving.rerank_topk over an already-ranked candidate list
    [(docid, raw_score)] (the disjunctive top-k_in): per-candidate LETOR
    features (coverage, min pair proximity, tf density, earliest hit)
    from the doc token array, base score min-max-normalized over the
    candidate set, fixed-weight linear combination, (rerank desc, docid)
    order, LIMIT k_out."""
    if not hits or not qterms:
        return []
    score_r = {d: round_half_up(s, 6) for d, s in hits}
    mn, mx = min(score_r.values()), max(score_r.values())
    rows = []
    for docid, _ in hits:
        toks = tokenize(texts.get(docid, ""))
        dl = len(toks)
        pos = {t: [i for i, w in enumerate(toks) if w == t] for t in qterms}
        present = [t for t in qterms if pos[t]]
        cov = len(present) / float(len(qterms))
        tfsum = float(sum(len(pos[t]) for t in qterms))
        density = tfsum / dl if dl > 0 else 0.0
        early = (
            1.0 / (1.0 + min(pos[t][0] for t in present)) if present else 0.0
        )
        # min cross-term position gap via ONE merged sorted scan — linear
        # in Σ positions, value-identical to the old all-pairs min
        # (adjacent-cross-pair argument; mirror of the Spark expression,
        # see operators/serving.rerank_topk r7 note). Duplicate query
        # terms get distinct tags so equal positions still yield gap 0.
        events = sorted(
            (p, j) for j, t in enumerate(qterms) for p in pos[t]
        )
        best = None
        for (p1, t1), (p2, t2) in zip(events, events[1:]):
            if t1 != t2 and (best is None or p2 - p1 < best):
                best = p2 - p1
        prox = 1.0 / (1.0 + best) if best is not None else 0.0
        bm25_n = (
            (score_r[docid] - mn) / (mx - mn) if mx > mn else 1.0
        )
        # same left-assoc addition order as the Spark expression
        rerank = round_half_up(
            RERANK_WEIGHTS["bm25_n"] * bm25_n
            + RERANK_WEIGHTS["cov"] * cov
            + RERANK_WEIGHTS["prox"] * prox
            + RERANK_WEIGHTS["density"] * density
            + RERANK_WEIGHTS["early"] * early,
            6,
        )
        rows.append((docid, rerank))
    rows.sort(key=lambda r: (-r[1], r[0]))
    return [
        (rnk, d, rr, score_r[d])
        for rnk, (d, rr) in enumerate(rows[:k_out], start=1)
    ]
