"""BM25 top-k over encoded segments with block-max pruning.

Every query on every front end is "plan, then evaluate":

- ``plan_query`` analyzes and validates a query once and returns an
  immutable ``QueryPlan`` (kind and, or, web, phrase or near; positive
  and negated terms; websearch groups; slop; the terms to scan and the
  terms whose positions the kernels read).
- ``evaluate`` evaluates a plan over one list per term and is the only
  code that picks a kernel. Its lists are EncodedLists (Spark path),
  MemoLists (cached full decode with block metadata: block-max walk) or
  decoded PostingLists (no block metadata: full scan). The kernels take
  any of the three; the float operations are the same, so scores are
  bit-identical whichever is passed.

A shard is the unit of storage, salting and distribution, not of
scoring: BM25 is per document, idf is global, and ``shard = pmod(docid,
n_shards)`` puts every document in exactly one shard. So a serving node
and a Spark task hold ONE list per term over all their shards
(``segments.fuse_rows``, ``codec.fuse``: each posting keyed (shard << 32)
| lid, the on-disk format unchanged), and tombstones and a docid scope
are one sorted key array each. ``evaluate`` runs once per plan per node
(query/local.py ServingIndex) and per task (``_shard_stage``), one key ->
docid lookup follows, and the global top-k is the k-merge of their
top-k+ties — exact, however the shards fall into tasks (tested rank- and
bit-identical to the oracle). One shard's plain lids are shard 0's keys.

Distributed plan of every Spark query entry point (``_shard_stage``):

    (df, idf) of the query terms: driver memo; a miss     [driver; no job]
      is a pyarrow read of the term_stats files
    spark.range(0, n, 1, n): n task descriptors, n =      [1 Python task for
      1 when the terms' postings fit one task (below      a point query]
      POSTINGS_PER_TASK); task i holds shards i, i+n, ...
    -> mapInArrow(task body, ``_task_body``): the
       task's shards' rows of the scan terms, read with
       the handle's segment files
       (``segments.read_term_rows``, the serving read),
       fused into one list per term; evaluate once per
       plan with idf from the closure; then ONE pyarrow
       read of the handle's docmap files maps every key
       of the task to its docid
    -> global TakeOrderedAndProject(k, (-score, docid))  [k rows + ties/task]

A point query is ONE Spark job of one stage and one task: its plan scans
no file, so no SQL text is built from the query's terms, no exchange cuts
a one-task stage, and no plan joins the docmap or the term dictionary;
the top-k runs in the kernel task's job. A large docid scope groups its
(shard, lid) rows by shard instead (``groupBy("shard").applyInArrow``:
the same body, reading one shard's rows per group).

Kernels (numpy, over keyed lists). The conjunctive ones — AND (default,
reference F4 websearch_to_tsquery semantics), phrase/NEAR and websearch
groups — are one matcher, drive -> intersect -> verify -> score:

- drive (``_drive``): the rarest list is decoded whole (with positions
  when the plan needs them) and its docids pass the one candidate filter
  (``_live``: tombstones, docid scope and, for AND and websearch groups,
  '-term' negation);
- intersect (``_intersect``): every other distinct term is probed at the
  candidates through ``_probe_any`` — an encoded list decodes only the
  blocks whose block-max docid can hold a candidate (block-max docid
  skipping), a decoded list is searched directly — into one column set
  {term: (tfs, doclens, flat positions|None)};
- verify: the kernel's own logic — AND's sound theta pruning (the same
  intersect over its <=k probe candidates), phrase adjacency and ordered
  or unordered NEAR (``_phrase_verify_score``), websearch quoted groups
  and negated phrases (``_websearch_match``);
- score (``_bm25_sum``): exact float64 BM25 of the survivors, terms in
  lexicographic order (bit-identical to the oracle).

The single-term kernel visits blocks in descending idf*bmax_u (block-max
score order); once the k-th heap score exceeds the next block's upper
bound the remaining blocks are provably irrelevant and never decoded —
classic block-max top-k, exact. OR (disjunctive, reference F5
triple-match semantics) is exact vectorized union scoring — see
_shard_kernel_or for why the OR path trades pruning for guaranteed-exact
returned scores. Over a keyed list every threshold (the single-term
heap, AND's theta, OR's interval bound) spans all the node's or task's
shards at once: stronger than a per-shard cut, and still exact.

Deleted documents (tombstones, index/maintenance.py) are filtered inside
the kernels from the broadcast tombstone set until compaction folds them
into the segments.
"""

from __future__ import annotations

import numbers
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from honeywell_search_engine_spark.functions.analyzer import (
    analyze_query,
    parse_websearch_query,
)
from honeywell_search_engine_spark.index import codec
from honeywell_search_engine_spark.index.docmap import docid_frame
from honeywell_search_engine_spark.index.segments import (
    SegmentIndex,
    check_terms,
    docids_of_lids,
    read_term_rows,
)

RESULT_SCHEMA = "docid long, score double"


def _analyzers_for(index):
    """Query analyzers matching how the index was built: a Porter-stemmed
    index (build_segments(stemmed=True), flag persisted in stats.json)
    stems queries too — like Postgres, where websearch_to_tsquery('english',
    ...) applies the same stemmer the tsvector build did. Returns
    (analyze_query_fn, tokenize_fn, groups_transform_fn)."""
    if getattr(index, "stemmed", False):
        from honeywell_search_engine_spark.functions.analyzer import (
            analyze_query_stemmed,
            stem_groups,
            tokenize_stemmed,
        )

        return analyze_query_stemmed, tokenize_stemmed, stem_groups
    from honeywell_search_engine_spark.functions.analyzer import tokenize

    return analyze_query, tokenize, (lambda g: g)

# a docid scope above this size never rides a driver collect/broadcast —
# it joins the docmap, and its rows are grouped by shard instead
SCOPE_INLINE_MAX = 100_000


@dataclass(frozen=True)
class QueryPlan:
    """One analyzed, validated query: what ``evaluate`` evaluates on
    every node and task, whichever front end asked.

    - kind: 'and', 'or', 'web' (websearch groups), 'phrase' or 'near';
    - terms: positive terms — distinct for and/or, phrase order with
      repeats for phrase/near, every group's positive terms for web;
    - neg: negated terms (and: websearch '-term');
    - groups: websearch groups (all_pos, neg, phrases, neg_phrases);
    - slop: phrase slop, or the NEAR distance;
    - required: terms every hit contains — a node or task (or a whole
      index) missing one has no hit;
    - scan_terms: sorted distinct terms whose posting rows are read;
    - need_pos: terms whose positions the kernels read."""

    kind: str
    terms: tuple
    neg: tuple
    groups: tuple
    slop: int
    required: tuple
    scan_terms: tuple
    need_pos: frozenset


def _plan(kind: str, terms, neg=(), groups=(), slop: int = 0) -> QueryPlan:
    """A QueryPlan with its derived term sets."""
    groups = tuple(
        (tuple(p), tuple(n), tuple(map(tuple, ph)), tuple(map(tuple, nph)))
        for p, n, ph, nph in groups
    )
    if kind == "web":
        terms = sorted({t for g in groups for t in g[0]})
        scan = {t for g in groups for t in (*g[0], *g[1], *(x for ph in g[3] for x in ph))}
        need_pos = frozenset(t for g in groups for ph in (*g[2], *g[3]) for t in ph)
        required = groups[0][0] if len(groups) == 1 else ()
    else:
        scan = {*terms, *neg}
        need_pos = frozenset(terms) if kind in ("phrase", "near") else frozenset()
        required = () if kind == "or" else tuple(dict.fromkeys(terms))
    return QueryPlan(
        kind, tuple(terms), tuple(neg), groups, int(slop), required,
        tuple(sorted(scan)), need_pos,
    )


def plan_query(
    index,
    query: str,
    k: int = 10,
    mode: str = "and",
    exclude_terms: list[str] | None = None,
    pre_analyzed: list[str] | None = None,
    syntax: str = "words",
    slop: int = 0,
) -> QueryPlan | None:
    """Analyze and validate one query for `index` (a SegmentIndex or a
    ServingIndex): the plan step every front end shares. Returns the
    QueryPlan, or None when the query can match nothing (no analyzed
    term, or a contradiction ``a -a``).

    `syntax` is how `query` reads: 'words' (bag of words under `mode`,
    'and' or 'or'), 'web' (websearch_to_tsquery), 'phrase' (phrase
    order; `slop` > 0 is ordered NEAR) or 'near' (two distinct terms
    within `slop` positions in either order). A websearch query of one
    group without quoted phrases plans as AND over its positive terms
    with its negated ones excluded. Analysis follows the index
    (``_analyzers_for``: a stemmed index stems queries); `pre_analyzed`
    terms skip it — Porter is not idempotent, so stems are never
    re-stemmed. `pre_analyzed` and `exclude_terms` must be in the
    analyzer's [a-z0-9]+ alphabet. ValueError on an unknown mode or
    syntax, on `k` not an int >= 1, on `slop` (the NEAR distance) not an
    int >= 0, on `exclude_terms` outside AND mode, and on a NEAR query
    without exactly two distinct terms."""
    if mode not in ("and", "or"):
        raise ValueError(f"mode must be 'and' or 'or'; got {mode!r}")
    if syntax not in ("words", "web", "phrase", "near"):
        raise ValueError(f"unknown query syntax {syntax!r}")
    if isinstance(k, bool) or not isinstance(k, numbers.Integral) or k < 1:
        raise ValueError(f"k must be an int >= 1; got {k!r}")
    if isinstance(slop, bool) or not isinstance(slop, numbers.Integral) or slop < 0:
        raise ValueError(f"slop/dist must be an int >= 0; got {slop!r}")
    aq, tok, sg = _analyzers_for(index)
    if syntax in ("phrase", "near"):
        terms = tok(query)
        if syntax == "near" and (len(terms) != 2 or terms[0] == terms[1]):
            raise ValueError(
                "NEAR is the two-distinct-term operator; got "
                f"{terms!r} (use the phrase search with slop for the "
                "ordered chain)"
            )
        return _plan(syntax, terms, slop=slop) if terms else None
    if syntax == "web":
        groups = sg(parse_websearch_query(query))
        if not groups:
            return None
        all_pos, neg, phrases, neg_phrases = groups[0]
        if len(groups) > 1 or phrases or neg_phrases:
            return _plan("web", (), groups=groups)
        # one plain group: its terms are already index-analyzed (stemmed
        # if the index is), so they ride pre_analyzed
        pre_analyzed, exclude_terms = all_pos, neg
    if pre_analyzed is not None:
        terms = list(dict.fromkeys(check_terms(pre_analyzed)))
    else:
        terms = aq(query)
    neg_terms = sorted(set(check_terms(exclude_terms or [])))
    if not terms:
        return None
    if neg_terms:
        if mode != "and":
            raise ValueError("exclude_terms (websearch '-term') is AND-only")
        if set(terms) & set(neg_terms):
            return None  # contradiction: a & !a never matches
    return _plan(mode, terms, neg_terms)


def _u_exact(tfs: np.ndarray, doclens: np.ndarray, avgdl: float) -> np.ndarray:
    return codec.bm25_u(tfs, doclens, avgdl)


_NO_DEAD = np.zeros(0, dtype=np.int64)


def _select_topk_with_ties(lids: np.ndarray, scores: np.ndarray, k: int):
    """Top-k by score (tie: ascending key) INCLUDING every row tied with
    the k-th score. Returning boundary ties makes the final cut exact
    under ANY lid assignment: it tie-breaks on the global docid each key
    maps to (docids_of_lids, ServingIndex), and nothing tied at the cut
    was dropped by the kernel — required because keys follow (shard,
    lid), and merged-in documents get appended lids, which are not
    docid-ordered (index/docmap.py)."""
    if lids.size == 0:
        return []
    if lids.size > k:
        kth = np.partition(scores, lids.size - k)[lids.size - k]
        keep = scores >= kth
        lids, scores = lids[keep], scores[keep]
    idx = np.lexsort((lids, -scores))
    return list(zip(lids[idx], scores[idx]))


def _pos_kw(with_positions: bool) -> dict:
    """Codec decode arguments: flat absolute positions, or no positions."""
    return {"with_positions": True, "flat_positions": True} if with_positions else {}


def _full(x, with_positions: bool = False) -> codec.PostingList:
    """The whole list decoded: a PostingList as it is (its holder decoded
    flat positions for the terms that need them), else a codec decode (a
    slice of the cached decode for a MemoList)."""
    if isinstance(x, codec.PostingList):
        return x
    return codec.decode_postings(x, **_pos_kw(with_positions))


def _blocked(rows) -> bool:
    """Every (term, list) in `rows` carries block metadata — a decoded
    PostingList has none, so the kernels take their full-scan branch."""
    return not any(isinstance(x, codec.PostingList) for _t, x in rows)


# the index of every candidate: selecting with it is a view, not a copy
_ALL = slice(None)


def _live(lids: np.ndarray, dead: np.ndarray, scope: np.ndarray | None = None,
          neg_rows=()):
    """Keep-mask over ascending candidate `lids`, the one candidate filter
    of every kernel: False for tombstoned (`dead`), out-of-`scope` and
    negated (`neg_rows`, websearch '-term') docs. The negated lists are
    probed only at the candidates the first two tests keep. With nothing
    to filter it is ``_ALL``, so the common case copies no column."""
    if not dead.size and scope is None and not neg_rows:
        return _ALL
    keep = np.ones(lids.size, dtype=bool)
    if dead.size:
        keep &= ~np.isin(lids.astype(np.int64, copy=False), dead)
    if scope is not None:
        keep &= np.isin(lids.astype(np.int64, copy=False), scope)
    if neg_rows and keep.any():
        keep[keep] = ~_negated_mask(neg_rows, lids[keep])
    return keep


def _take(cand: np.ndarray, cols: dict, keep: np.ndarray) -> tuple:
    """The one keep-mask step of the conjunctive kernels: (cand, cols) at
    the candidates where `keep` holds. `cols` is the column set
    {term: (tfs, doclens, flat positions|None)} aligned with `cand`; flat
    positions are kept posting by posting (per-posting counts are the
    tfs), so filtering never walks a per-doc list."""
    if keep is _ALL or keep.all():
        return cand, cols
    return cand[keep], {
        t: (tfs[keep], dls[keep],
            None if flat is None else flat[np.repeat(keep, tfs.astype(np.int64))])
        for t, (tfs, dls, flat) in cols.items()
    }


def _drive(rows: list, dead: np.ndarray, scope: np.ndarray | None = None,
           neg_rows=(), need_pos=frozenset()) -> tuple:
    """The drive step of the conjunctive kernels. `rows` are (term, list)
    pairs; the rarest list is decoded whole (flat positions when its term
    is in `need_pos`) and its docids are filtered through ``_live``.
    Returns (the other rows by ascending length, cand, cols)."""
    rows = sorted(rows, key=lambda tr: tr[1].n)
    t0, x0 = rows[0]
    wp = t0 in need_pos
    pl0 = _full(x0, with_positions=wp)
    cand = pl0.docids
    cols = {t0: (pl0.tfs, pl0.doclens, pl0.positions if wp else None)}
    return (rows[1:], *_take(cand, cols, _live(cand, dead, scope, neg_rows)))


def _intersect(rows: list, cand: np.ndarray, cols: dict, need_pos=frozenset()) -> tuple:
    """The one intersect loop: ascending candidates `cand` against every
    (term, list) of `rows` whose term has no column yet, so a repeated
    term is probed once. Each probe goes through ``_probe_any`` (candidate
    blocks only, or a direct search of a decoded list), adds the term's
    column (positions for `need_pos` terms) and narrows every column to
    the candidates that hold. Returns the matched (cand, cols)."""
    cols = dict(cols)
    for t, x in rows:
        if cand.size == 0:
            break
        if t in cols:
            continue
        keep, tfs, dls, flat = _probe_any(x, cand, with_positions=t in need_pos)
        cand, cols = _take(cand, cols, keep)
        cols[t] = (tfs, dls, flat)
    return cand, cols


def _bm25_sum(cols: dict, idf: dict[str, float], avgdl: float) -> np.ndarray:
    """Exact BM25 of the candidates a column set is aligned with: each
    term's contribution added in lexicographic term order (float64, the
    oracle's sum order, so scores are bit-identical)."""
    score = np.zeros(next(iter(cols.values()))[0].size, dtype=np.float64)
    for t in sorted(cols):
        tfs, dls, _flat = cols[t]
        score += idf[t] * _u_exact(tfs, dls, avgdl)
    return score


def _topk_single(enc: codec.EncodedList, idf: float, avgdl: float, k: int,
                 dead: np.ndarray = _NO_DEAD, scope: np.ndarray | None = None,
                 neg_rows: list = ()):
    """Exact single-term top-k with block-max score pruning. `dead` is the
    sorted int64 array of tombstoned keys (from a Spark broadcast — never
    a per-task Python set); `scope`, when given, is the sorted allowed-key
    array (the reference's per-caller allowed_ids restriction, F2/F3);
    `neg_rows` are (term, EncodedList) exclusions (websearch '-term'),
    filtered per chunk BEFORE the top-k buffer so the
    pruning threshold never counts an excluded doc. A decoded PostingList
    has no block bounds and is scored in one full-scan pass."""
    if isinstance(enc, codec.PostingList):
        lids = enc.docids.astype(np.int64)
        keep = _live(lids, dead, scope, neg_rows)
        return _select_topk_with_ties(
            lids[keep], idf * _u_exact(enc.tfs[keep], enc.doclens[keep], avgdl), k
        )
    order = np.argsort(-enc.bmax_u, kind="stable")
    # Blocks are visited in descending-bound order in CHUNKS: the stop
    # test uses the first (= highest-bound) block of the next chunk, so
    # pruning stays exact — at worst chunk-1 extra blocks decode. The
    # chunk turns per-block Python/decode overhead into one batched
    # decode + one argpartition per chunk (a per-score Python heap and a
    # per-block loop both measured as the serving hot spot).
    chunk = 16
    topbuf = np.empty(0, dtype=np.float64)
    cand_d: list[np.ndarray] = []
    cand_s: list[np.ndarray] = []
    for i in range(0, order.size, chunk):
        batch = order[i : i + chunk]
        bound = idf * enc.bmax_u[batch[0]]  # max bound among all remaining
        if topbuf.size >= k and bound < topbuf.min():
            break  # every remaining block has a strictly smaller bound
        pl = codec.decode_blocks(enc, np.sort(batch))
        lids = pl.docids.astype(np.int64)
        keep = _live(lids, dead, scope, neg_rows)
        lids, scores = lids[keep], idf * _u_exact(pl.tfs[keep], pl.doclens[keep], avgdl)
        cand_d.append(lids)
        cand_s.append(scores)
        if scores.size:
            merged = np.concatenate([topbuf, scores])
            if merged.size > k:
                merged = merged[np.argpartition(merged, merged.size - k)[merged.size - k:]]
            topbuf = merged
    if not cand_d:
        return []
    return _select_topk_with_ties(
        np.concatenate(cand_d), np.concatenate(cand_s), k
    )


def _candidate_blocks(enc: codec.EncodedList, cand: np.ndarray) -> np.ndarray:
    """Block index that could contain each candidate docid: first block
    whose bmax_docid >= cand (bmax_docid is ascending)."""
    return np.searchsorted(enc.bmax_docid, cand, side="left")


def _negated_mask(neg_rows: list, cand: np.ndarray) -> np.ndarray:
    """True where cand appears in ANY negated term's posting list —
    websearch '-term' exclusion. Candidate-selective decode: only the
    blocks that could contain a candidate are touched (same skip pattern
    as the AND intersect); a negated term's list is never fully decoded."""
    hit = np.zeros(cand.size, dtype=bool)
    for _t, x in neg_rows:
        hit |= _probe_any(x, cand)[0]
    return hit


def _shard_kernel_and(term_rows: list, idf: dict[str, float], avgdl: float,
                      k: int, dead: np.ndarray = _NO_DEAD, prune: bool = True,
                      scope: np.ndarray | None = None, neg_rows: list = ()):
    """Conjunctive evaluation. term_rows: (term, EncodedList), all query
    terms present (caller enforces).

    Rarest list drives; every other list is decoded selectively: only the
    blocks that can contain a surviving candidate (block-max docid skip).

    Score-bound pruning (`prune`, exact): with more candidates than k, each
    candidate's upper bound U = (driver's EXACT contribution) + sum over
    the other terms of idf * bmax_u of the block that would hold it —
    block METADATA only, nothing decoded. theta is derived ONLY from
    documents verified against the full conjunction: the top-k candidates
    by driver contribution are intersected first (≤k candidates — cheap),
    and if at least k of them survive, the k-th largest of their TRUE
    scores lower-bounds the shard's k-th true conjunctive score, so any
    candidate with U < theta can never reach the top-k (boundary ties
    included: a tie at the k-th score would need S = S_kth >= theta >
    U >= S, and every doc with S >= theta has U >= S >= theta so it
    survives). If fewer than k of the probed candidates complete the
    conjunction there is no sound theta and score pruning is skipped —
    only the always-valid "past the last block" drop applies. (An earlier
    version took theta from UNVERIFIED driver contributions, which
    over-prunes when high-driver-score docs fail the intersection.)
    Lists without block metadata (decoded PostingLists) skip the score
    pruning; the intersection probes them directly. Negation is applied
    in the drive step, before pruning, so theta derives only from docs
    that can actually be returned."""
    rest, cand, cols = _drive(term_rows, dead, scope, neg_rows)
    if prune and cand.size > k and _blocked(rest):
        t0, (tfs0, dls0, _) = next(iter(cols.items()))
        exact0 = idf[t0] * _u_exact(tfs0, dls0, avgdl)  # exact driver part
        ub = exact0.copy()
        keep = np.ones(cand.size, dtype=bool)
        ci = cand.astype(np.int64)
        for t, enc in rest:
            b = np.searchsorted(enc.bmax_docid, ci, side="left")
            valid = b < enc.bmax_docid.size
            keep &= valid  # beyond t's last block -> AND can never hold
            ub[valid] += idf[t] * enc.bmax_u[b[valid]]
        # probe: verify the k best-by-driver candidates against the full
        # conjunction (the same intersect loop over <=k docids — a handful
        # of blocks per list) and take theta from their TRUE scores
        probe = np.zeros(cand.size, dtype=bool)
        probe[np.argpartition(exact0, exact0.size - k)[exact0.size - k:]] = True
        v_cand, v_cols = _intersect(rest, *_take(cand, cols, probe))
        if v_cand.size >= k:
            v_score = _bm25_sum(v_cols, idf, avgdl)
            keep &= ub >= np.partition(v_score, v_score.size - k)[v_score.size - k]
        cand, cols = _take(cand, cols, keep)
    cand, cols = _intersect(rest, cand, cols)
    return _select_topk_with_ties(cand.astype(np.int64), _bm25_sum(cols, idf, avgdl), k)


def _or_block_prune(term_rows: list, idf: dict[str, float], avgdl: float,
                    k: int, dead: np.ndarray, scope: np.ndarray | None = None):
    """Exact block-max pruning for OR mode. Returns, per term, the block
    indices that can still contain a top-k doc (or None to decode fully).

    theta: the k-th best EXACT single-term score of the strongest lists is
    a lower bound of the k-th best OR score (OR score >= any single-term
    contribution). Interval sweep: elementary docid intervals are delimited
    by the union of every term's block-end docids, so within one interval
    each term's covering block — and therefore the summed upper bound
    sum_t idf_t * bmax_u_t — is constant. Intervals with bound < theta
    (strict) hold only docs strictly below the k-th true score (ties at the
    k-th are kept: a tie would need S = S_kth >= theta > bound >= S).
    Only blocks intersecting surviving intervals are decoded."""
    # theta from the exact top-k of the single strongest list (highest
    # idf * max block bound) — cheap: block-max pruned single-term pass
    best_t = max(
        range(len(term_rows)),
        key=lambda i: idf[term_rows[i][0]] * float(term_rows[i][1].bmax_u.max()),
    )
    t0, e0 = term_rows[best_t]
    seed = _topk_single(e0, idf[t0], avgdl, k, dead, scope)
    if len(seed) < k:
        return None, None  # not enough evidence to prune safely
    theta = min(s for _, s in seed)

    edges = np.unique(
        np.concatenate([enc.bmax_docid for _, enc in term_rows])
    )  # interval i = (edges[i-1], edges[i]]
    tot = np.zeros(edges.size, dtype=np.float64)
    covering = []
    for t, enc in term_rows:
        b = np.searchsorted(enc.bmax_docid, edges, side="left")
        valid = b < enc.bmax_docid.size
        tot[valid] += idf[t] * enc.bmax_u[b[valid]]
        covering.append((b, valid))
    keep = tot >= theta
    if keep.all():
        return None, None  # nothing prunable
    blocks_per_term = []
    for (b, valid), (t, enc) in zip(covering, term_rows):
        sel = np.unique(b[keep & valid])
        blocks_per_term.append(sel)
    return blocks_per_term, (edges, keep)


def _shard_kernel_or(term_rows: list, idf: dict[str, float], avgdl: float,
                     k: int, dead: np.ndarray = _NO_DEAD, prune: bool = True,
                     scope: np.ndarray | None = None):
    """Disjunctive (OR) union scoring — exact, vectorized.

    Scores every doc that contains ANY query term: union of docids via
    np.unique, per-term contributions added in lexicographic term order
    (float64 determinism). Used for the reference's triple-match OR
    semantics (F5, fusion.py:73-88). With `prune`, an interval-sweep
    block-max pass (_or_block_prune) drops whole docid regions whose
    summed upper bound cannot reach the k-th best single-term score —
    exact (returned scores unchanged, boundary ties kept), and the skipped
    blocks are never decoded. Decoded PostingLists (no block metadata)
    are scored unpruned."""
    term_rows = sorted(term_rows, key=lambda tr: tr[0])
    blocks_per_term = region = None
    if prune and len(term_rows) > 1 and _blocked(term_rows):
        blocks_per_term, region = _or_block_prune(
            term_rows, idf, avgdl, k, dead, scope
        )
    if blocks_per_term is None:
        decoded = [(t, _full(x)) for t, x in term_rows]
    else:
        decoded = [
            (t, codec.decode_blocks(enc, blocks))
            for (t, enc), blocks in zip(term_rows, blocks_per_term)
        ]
    union = np.unique(np.concatenate([pl.docids for _, pl in decoded]))
    if region is not None:
        # decoded blocks overhang pruned intervals: drop docs whose
        # elementary interval was eliminated (their true score < theta)
        edges, keep = region
        iv = np.searchsorted(edges, union.astype(np.int64), side="left")
        inb = iv < edges.size
        mask = np.zeros(union.size, dtype=bool)
        mask[inb] = keep[iv[inb]]
        union = union[mask]
    union = union[_live(union, dead, scope)]
    score = np.zeros(union.size, dtype=np.float64)
    for t, pl in decoded:  # lexicographic order
        pos = np.searchsorted(union, pl.docids)
        ok = pos < union.size
        ok[ok] = union[pos[ok]] == pl.docids[ok]  # pruned/tombstoned ids don't match
        contrib = idf[t] * _u_exact(pl.tfs, pl.doclens, avgdl)
        score[pos[ok]] += contrib[ok]
    return _select_topk_with_ties(union.astype(np.int64), score, k)


def _shard_kernel_phrase(term_rows: list, idf: dict[str, float], avgdl: float,
                         k: int, dead: np.ndarray = _NO_DEAD, slop: int = 0,
                         unordered: bool = False):
    """Exact phrase evaluation. term_rows: [(term, EncodedList)] in
    PHRASE order (repeats allowed). Docid intersection
    drives block-selective decode exactly like the AND kernel; positions
    are decoded ONLY for candidate blocks and adjacency is verified by
    chained intersection of per-term positions shifted by their phrase
    offset. Matching docs score standard BM25 over the phrase's distinct
    terms (lexicographic sum order — oracle bit-parity). Columns are keyed
    by term, so a repeated term is probed once. Decoded PostingLists
    (flat positions) are probed directly."""
    terms = [t for t, _ in term_rows]
    need_pos = frozenset(terms)
    rest, cand, cols = _drive(term_rows, dead, need_pos=need_pos)
    cand, cols = _intersect(rest, cand, cols, need_pos)
    if cand.size == 0:
        return []
    return _phrase_verify_score(terms, cols, cand, idf, avgdl, k, slop, unordered)


def _pos_keys(col: tuple) -> np.ndarray:
    """One term's (tfs, doclens, flat positions) column over candidates
    0..n-1 as composite (candidate << 32) | position keys, ascending by
    construction (per-candidate position counts are the tfs)."""
    tfs, _dls, flat = col
    c = np.repeat(np.arange(tfs.size, dtype=np.int64), tfs.astype(np.int64))
    return (c << 32) | flat.astype(np.int64)


def _adjacent(cols: dict, phrase) -> np.ndarray:
    """Candidate indices where the `phrase` terms occur at consecutive
    positions, from the column set `cols` (positions for every phrase
    term). A start survives term j iff key+j is among term j's
    _pos_keys (exact adjacency)."""
    cur = _pos_keys(cols[phrase[0]])
    for j in range(1, len(phrase)):
        if cur.size == 0:
            break
        kj = _pos_keys(cols[phrase[j]])
        tgt = cur + j  # pos+j can't overflow into the candidate bits
        idx = np.searchsorted(kj, tgt)
        ok = idx < kj.size
        ok[ok] = kj[idx[ok]] == tgt[ok]
        cur = cur[ok]
    return np.unique(cur >> 32)


def _phrase_verify_score(
    terms: list[str], cols: dict, cand: np.ndarray,
    idf: dict[str, float], avgdl: float, k: int, slop: int,
    unordered: bool = False,
):
    """Verify, then score, the phrase candidates `cand`; `cols` holds
    every phrase term's column, positions included. Every (candidate,
    position) pair is one composite key (c << 32) | pos, ascending by
    construction, so one searchsorted per phrase term verifies every
    candidate at once (no per-doc Python loop).

    - slop=0: exact adjacency (``_adjacent``).
    - slop>0: ordered NEAR — greedy next-position chaining (side='right'
      gives the smallest position > current WITHIN the same candidate,
      checked via the key's candidate bits), so `min span <= (m-1)+slop`
      stays an exact test.
    - `unordered` (exactly two distinct terms): classic A NEAR/k B — a
      candidate survives iff min |pos_A - pos_B| <= slop in EITHER order;
      one searchsorted of A's keys into B's gives each A occurrence its
      successor AND predecessor B position within the same candidate.

    Survivors score BM25 over the phrase's distinct terms (a repeated
    term contributes once, like the oracle)."""
    m = len(terms)
    span_max = (m - 1) + slop

    if unordered:
        if m != 2:
            raise ValueError("unordered NEAR is the two-term operator")
        k0, k1 = _pos_keys(cols[terms[0]]), _pos_keys(cols[terms[1]])
        c0 = k0 >> 32
        p0 = k0 & 0xFFFFFFFF
        idx = np.searchsorted(k1, k0)
        hit = np.zeros(k0.size, dtype=bool)
        oks = idx < k1.size
        succ = np.zeros_like(k0)
        succ[oks] = k1[idx[oks]]
        same_s = oks & ((succ >> 32) == c0)
        hit |= same_s & (((succ & 0xFFFFFFFF) - p0) <= slop)
        okp = idx > 0
        pred = np.zeros_like(k0)
        pred[okp] = k1[idx[okp] - 1]
        same_p = okp & ((pred >> 32) == c0)
        hit |= same_p & ((p0 - (pred & 0xFFFFFFFF)) <= slop)
        hit_c = np.unique(c0[hit])
    elif slop == 0:
        hit_c = _adjacent(cols, terms)
    else:
        cur = _pos_keys(cols[terms[0]])
        c0 = cur >> 32
        p0 = cur & 0xFFFFFFFF
        q = cur.copy()
        live = np.ones(cur.size, dtype=bool)
        for j in range(1, m):
            kj = _pos_keys(cols[terms[j]])
            idx = np.searchsorted(kj, q, side="right")
            in_rng = live & (idx < kj.size)
            nxt = np.zeros_like(q)
            nxt[in_rng] = kj[idx[in_rng]]
            live = in_rng & ((nxt >> 32) == c0)
            q = np.where(live, nxt, q)
        live &= ((q & 0xFFFFFFFF) - p0) <= span_max
        hit_c = np.unique(c0[live])
    phrase_ok = np.zeros(cand.size, dtype=bool)
    phrase_ok[hit_c] = True
    # scoring reads no positions: drop them before the survivors' filter
    cand, cols = _take(cand, {t: (*c[:2], None) for t, c in cols.items()}, phrase_ok)
    return _select_topk_with_ties(cand.astype(np.int64), _bm25_sum(cols, idf, avgdl), k)


def _gather_flat(pl, sel: np.ndarray) -> np.ndarray:
    """Vectorized segment-gather of pl's flat position array at posting
    indices `sel` (per-posting segment lengths are the tfs)."""
    cnt = pl.tfs.astype(np.int64)
    starts = np.zeros(cnt.size + 1, dtype=np.int64)
    np.cumsum(cnt, out=starts[1:])
    seg_s, seg_l = starts[sel], cnt[sel]
    out_starts = np.zeros(sel.size, dtype=np.int64)
    if sel.size > 1:
        np.cumsum(seg_l[:-1], out=out_starts[1:])
    gidx = (
        np.arange(int(seg_l.sum()), dtype=np.int64)
        - np.repeat(out_starts, seg_l)
        + np.repeat(seg_s, seg_l)
    )
    return pl.positions[gidx]


def _probe_pl(pl, cand: np.ndarray, with_positions: bool = False):
    """Decoded-list analog of _probe_at: membership of sorted `cand` in a
    PostingList plus aligned value columns — one searchsorted, no codec
    work. Returns the same (keep, tfs, doclens, flat|None) contract."""
    empty = np.zeros(0, dtype=np.int64)
    if cand.size == 0:
        return np.zeros(0, dtype=bool), empty, empty, (empty if with_positions else None)
    pos = np.searchsorted(pl.docids, cand)
    ok = pos < pl.docids.size
    keep = np.zeros(cand.size, dtype=bool)
    keep[ok] = pl.docids[pos[ok]] == cand[ok]
    sel = pos[keep]
    flat = _gather_flat(pl, sel) if with_positions else None
    return keep, pl.tfs[sel], pl.doclens[sel], flat


def _probe_any(x, cand: np.ndarray, with_positions: bool = False):
    """Probe an EncodedList (block-selective decode) or an already-decoded
    PostingList (direct searchsorted) with one calling convention: every
    candidate probe of every kernel goes through here, so the kernels run
    unchanged over either representation (the serving path passes
    PostingLists for short lists)."""
    if isinstance(x, codec.PostingList):
        return _probe_pl(x, cand, with_positions)
    return _probe_at(x, cand, with_positions)


def _probe_at(enc: codec.EncodedList, cand: np.ndarray, with_positions: bool = False):
    """Selectively decode `enc` at the sorted candidate docids `cand`:
    only blocks that could contain a candidate are touched (block-max
    docid skip). Returns (keep mask over cand, tfs, doclens,
    flat_positions|None) — the value arrays aligned with cand[keep]."""
    blocks = _candidate_blocks(enc, cand.astype(np.int64))
    valid = blocks < enc.bmax_docid.size  # beyond the last block: no match
    pl = codec.decode_blocks(enc, np.unique(blocks[valid]), **_pos_kw(with_positions))
    keep = np.zeros(cand.size, dtype=bool)
    keep[valid], tfs, dls, flat = _probe_pl(pl, cand[valid], with_positions)
    return keep, tfs, dls, flat


def _phrase_mask(ph_rows: list, cand: np.ndarray) -> np.ndarray:
    """Boolean mask over `cand` (sorted docids): True where the phrase —
    ph_rows as (term, list) in PHRASE order, repeats allowed — occurs at
    consecutive filtered-stream positions. Used for negated quoted
    phrases ('-"a b"', Postgres !(a <-> b)), where the phrase's terms are
    NOT required of the candidates: the intersect loop over the phrase's
    distinct terms probes presence and positions selectively (candidate
    blocks only), then ``_adjacent`` verifies."""
    terms = [t for t, _ in ph_rows]
    sub, cols = _intersect(ph_rows, cand, {}, frozenset(terms))
    out = np.zeros(cand.size, dtype=bool)
    if sub.size:
        out[np.searchsorted(cand, sub[_adjacent(cols, terms)])] = True
    return out


def _websearch_match(
    pos_rows: list,
    phrase_groups: list,
    neg_rows: list,
    dead: np.ndarray = _NO_DEAD,
    neg_phrase_rows: list = (),
):
    """Match portion of one conjunctive websearch group:
    pos_rows are the DISTINCT required (term, list) pairs (loose terms +
    every quoted-phrase member), phrase_groups are token-lists that must
    each occur adjacently, neg_rows exclude docs containing the term,
    neg_phrase_rows exclude docs where that phrase occurs adjacently
    ('-"a b"'). Drive (tombstones and negated terms filtered there, as in
    the AND kernel) and intersect as every conjunctive kernel (positions
    only for phrase members, only in candidate blocks), then adjacency and
    negated phrases. Returns (cand, cols) — surviving lids and their
    column set for scoring. Exact."""
    need_pos = frozenset(t for ph in phrase_groups for t in ph)
    rest, cand, cols = _drive(pos_rows, dead, neg_rows=neg_rows, need_pos=need_pos)
    cand, cols = _intersect(rest, cand, cols, need_pos)
    # every quoted group must occur adjacently, then no negated phrase may
    for ph in phrase_groups:
        if cand.size == 0:
            break
        ok = np.zeros(cand.size, dtype=bool)
        ok[_adjacent(cols, ph)] = True
        cand, cols = _take(cand, cols, ok)
    for ph_rows in neg_phrase_rows:
        if cand.size == 0:
            break
        cand, cols = _take(cand, cols, ~_phrase_mask(ph_rows, cand))
    return cand, cols


def _shard_kernel_websearch(
    pos_rows: list,
    phrase_groups: list,
    neg_rows: list,
    idf: dict[str, float],
    avgdl: float,
    k: int,
    dead: np.ndarray = _NO_DEAD,
):
    """One conjunctive websearch group, scored: match via
    _websearch_match, then BM25 over the group's required terms. No
    score-bound pruning: with unverified phrase groups pending there is
    no sound theta (same reasoning as the AND-prune fix)."""
    cand, cols = _websearch_match(pos_rows, phrase_groups, neg_rows, dead)
    return _select_topk_with_ties(cand.astype(np.int64), _bm25_sum(cols, idf, avgdl), k)


def _shard_kernel_websearch_or(
    groups: list,
    by_term: dict,
    idf: dict[str, float],
    avgdl: float,
    k: int,
    dead: np.ndarray = _NO_DEAD,
):
    """Disjunction of conjunctive websearch groups (the Postgres
    websearch 'or' keyword — AND binds tighter, so the query is an OR of
    groups). `groups` are (all_pos, neg, phrases, neg_phrases) from
    analyzer.parse_websearch_query; `by_term` maps the terms to their
    lists. A doc matches iff ANY group holds; its score sums
    BM25 over ALL distinct positive terms of the whole query present in
    the doc (union-presence scoring, lexicographic order — the
    `search_or` convention; oracle bit-parity).

    Every positive term's list is read once. Each group's rarest list
    (its driver) is decoded whole; every other positive term is probed
    ONCE, at the union of the drivers' docids — a superset of every
    group's hits, since a hit holds its group's driver. The groups then
    match (_websearch_match) over these decoded lists, and the union of
    their hits is scored from the same lists."""
    scored = {t for g in groups for t in g[0] if t in by_term}
    # a required term without a list: that group is empty here
    groups = [g for g in groups if set(g[0]) <= scored]
    if not groups:
        return []
    need_pos = frozenset(t for g in groups for ph in g[2] for t in ph)
    lists = {}
    for all_pos, *_ in groups:
        d = min(all_pos, key=lambda t: by_term[t].n)
        lists[d] = _full(by_term[d], with_positions=d in need_pos)
    drive = np.unique(np.concatenate([pl.docids for pl in lists.values()]))
    for t in sorted(scored - lists.keys()):
        keep, tfs, dls, flat = _probe_any(by_term[t], drive, with_positions=t in need_pos)
        lists[t] = codec.PostingList(drive[keep], tfs, dls, flat)
    union: np.ndarray | None = None
    for all_pos, neg, phrases, neg_phrases in groups:
        npr = [
            [(t, by_term[t]) for t in ph]
            for ph in neg_phrases
            if all(t in by_term for t in ph)
            # a negated phrase with a term without a list can never
            # occur adjacently -> excludes nothing
        ]
        cand, _cols = _websearch_match(
            [(t, lists[t]) for t in all_pos], phrases,
            [(t, by_term[t]) for t in neg if t in by_term], dead, npr,
        )
        if cand.size:
            union = cand if union is None else np.union1d(union, cand)
    if union is None or union.size == 0:
        return []
    score = np.zeros(union.size, dtype=np.float64)
    for t in sorted(lists):
        keep, tfs, dls, _ = _probe_pl(lists[t], union)
        score[keep] += idf[t] * _u_exact(tfs, dls, avgdl)
    return _select_topk_with_ties(union.astype(np.int64), score, k)


def evaluate(plan: QueryPlan, by_term: dict, idf: dict[str, float],
             avgdl: float, k: int, dead: np.ndarray = _NO_DEAD,
             scope: np.ndarray | None = None) -> list:
    """Top-k+ties [(key, score)] of `plan` — the only code that picks a
    kernel, for every front end, called once per plan per serving node
    and per Spark task. `by_term` maps terms to ONE keyed list each over
    all the caller's shards: EncodedLists or MemoLists (block-max walk)
    or decoded PostingLists (full scan), with flat positions for the
    plan's `need_pos` terms. `dead` is the sorted tombstoned keys;
    `scope`, when given, the sorted allowed keys (and/or plans)."""
    if any(t not in by_term for t in plan.required):
        return []  # a required term without a list: no hit here
    if plan.kind == "web":
        groups = plan.groups
        if len(groups) > 1 or groups[0][3]:
            # OR of groups / negated phrases: group-union kernel
            return _shard_kernel_websearch_or(groups, by_term, idf, avgdl, k, dead)
        all_pos, neg, phrases, _ = groups[0]
        return _shard_kernel_websearch(
            [(t, by_term[t]) for t in all_pos], phrases,
            [(t, by_term[t]) for t in neg if t in by_term], idf, avgdl, k, dead,
        )
    if plan.kind in ("phrase", "near"):
        return _shard_kernel_phrase(
            [(t, by_term[t]) for t in plan.terms], idf, avgdl, k, dead,
            plan.slop, unordered=plan.kind == "near",
        )
    rows = [(t, by_term[t]) for t in plan.terms if t in by_term]
    if plan.kind == "or":
        return _shard_kernel_or(rows, idf, avgdl, k, dead, scope=scope) if rows else []
    neg_rows = [(t, by_term[t]) for t in plan.neg if t in by_term]
    if len(rows) == 1:
        return _topk_single(rows[0][1], idf[rows[0][0]], avgdl, k, dead, scope, neg_rows)
    return _shard_kernel_and(rows, idf, avgdl, k, dead, scope=scope, neg_rows=neg_rows)


BATCH_SHARD_SCHEMA = "qid string, docid long, score double"
BATCH_RESULT_SCHEMA = "qid string, rnk int, docid long, score double"

# Postings one shard-kernel task should score before a second Python task
# pays for itself: the per-task fixed CPU cost over the kernel's CPU cost
# per posting, both measured on a 4-vCPU VM (Spark 4.1.2, local[4], the
# JVM's JIT as get_spark launches it, session.JIT_OPTIONS) on the
# perfbench index (7600 docs, 16 shards):
# - per-task fixed cost ~44-47 ms of VM CPU: a mapInArrow over the
#   task-descriptor frame whose tasks read their shards' rows of the three
#   head terms (22.8k postings, read_term_rows) and score nothing cost
#   120-130 ms at 1 task and 440-450 ms at 8 (medians of 5, two runs after
#   100 warm point queries), under get_spark's worker daemon
#   (worker_daemon.py): 44-47 ms per extra task, the task's own
#   segment-row read included (50-56 ms at HotSpot's default JIT
#   thresholds). It is Python worker set-up per task, not kernel work;
# - kernel cost per posting, in-process over the fused lists a task
#   evaluates (head terms, all 16 shards, min of 10 runs): ~0.9-1.3 us
#   for the phrase kernel, which decodes and verifies positions, and
#   0.14-0.22 us for the unpruned OR kernel (full decode + BM25 of every
#   posting). The split sees only postings, so the dearest kernel sets it.
# ~46 ms / ~1.2 us ~ 38k, so 30k postings stays (the split errs early):
# all but about 1 in 1000 perfbench point queries (sum of df: median
# 9.2k, p99 22.7k, max 30.2k over 2392 stream queries) run ONE kernel
# task.
POSTINGS_PER_TASK = 30_000


def _kernel_tasks(index: SegmentIndex, postings: int) -> int:
    """Python tasks for a shard-kernel stage over `postings` postings:
    ceil(postings / POSTINGS_PER_TASK), at least 1, at most one per shard
    and one per core."""
    cap = min(index.n_shards, index.spark.sparkContext.defaultParallelism)
    return max(1, min(cap, -(-postings // POSTINGS_PER_TASK)))


def _topk_tail(per_task: DataFrame, k: int) -> DataFrame:
    """The exact global order (-score, docid) over the per-task
    top-k+ties: ORDER BY + LIMIT plans as a TakeOrderedAndProject in the
    kernel stage's job (in its one stage when the stage is one task)."""
    return per_task.orderBy(F.desc("score"), F.asc("docid")).limit(int(k))


def _batch_tail(per_task: DataFrame, k: int) -> DataFrame:
    """One per-query rank window: (qid, rnk, docid, score)."""
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("docid"))
    return (
        per_task.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", "rnk", "docid", "score")
        .orderBy("qid", "rnk")
    )


def _memo_by_term(by_term: dict, use_count: dict, need_pos=frozenset()) -> dict:
    """{term: EncodedList} of a task's lists, with the terms shared by
    several queries of a batch (the Zipf head of a query log) decoded
    ONCE per task as MemoLists, all in one ``codec.decode_many`` call —
    every query after the first runs decode-free with block-max pruning
    intact; single-query terms stay encoded (selective decode only).
    Positions decode only for terms in `need_pos`."""
    shared = [t for t in by_term if use_count.get(t, 0) > 1]
    decoded = codec.decode_many([by_term[t] for t in shared], [t in need_pos for t in shared])
    for t, pl in zip(shared, decoded):
        by_term[t] = codec.MemoList(by_term[t], pl)
    return by_term


def _use_count(term_sets) -> dict:
    """Number of queries each term occurs in."""
    use_count: dict[str, int] = {}
    for ts in term_sets:
        for t in set(ts):
            use_count[t] = use_count.get(t, 0) + 1
    return use_count


def _task_body(index: SegmentIndex, plans: dict, k: int, batch: bool,
               idf: dict[str, float], scope_bc=None):
    """The body of one shard-kernel task, ``body(shards, scope=None)``.

    The body reads the task's `shards`' rows of the plans' scan terms
    (``read_term_rows`` over the handle's segment files, positions for
    the positional terms), fused into one keyed list per term; memoizes
    the shared ones (``_memo_by_term``) and runs ``evaluate`` once for
    every plan of `plans` ({qid: QueryPlan}); then ONE ``docids_of_lids``
    read of the handle's docmap files maps every key to its docid.
    Returns a Table of (docid, score), or (qid, docid, score) when
    `batch`. `scope` (the large-scope path's (shard, lid) rows) or
    `scope_bc` (sorted keys) restricts the candidates."""
    avgdl = index.stats.avgdl
    use_count = _use_count(p.scan_terms for p in plans.values())
    need_pos = frozenset().union(*(p.need_pos for p in plans.values()))
    scan_terms = sorted(use_count)
    dead_bc = index.dead_broadcast()
    docmap_files, segment_files, n_buckets = (
        index.docmap_files, index.segment_files, index.n_buckets)

    def body(shards, scope: pa.Table | None = None) -> pa.Table:
        _df, by_term = read_term_rows(segment_files, n_buckets, scan_terms, need_pos, shards)
        if scope is not None:
            allowed = np.sort(codec.keys_of(scope.column("shard").to_numpy(),
                                            scope.column("lid").to_numpy()))
        else:
            allowed = scope_bc.value if scope_bc is not None else None
        dead = dead_bc.value if dead_bc is not None else _NO_DEAD
        by_term = _memo_by_term(by_term, use_count, need_pos)
        hits = [(qid, key, s) for qid, plan in plans.items()
                for key, s in evaluate(plan, by_term, idf, avgdl, k, dead, allowed)]
        qids, keys, scores = zip(*hits) if hits else ((), (), ())
        cols = {
            "docid": docids_of_lids(docmap_files, np.array(keys, dtype=np.int64)),
            "score": np.array(scores, dtype=np.float64),
        }
        if batch:
            cols = {"qid": pa.array(qids, pa.string()), **cols}
        return pa.table(cols)

    return body


def _shard_stage(index: SegmentIndex, plans: dict, k: int, batch: bool,
                 scope_bc=None, scope_lids: DataFrame | None = None) -> DataFrame:
    """The shard-kernel stage of every Spark query entry point: one
    ``_task_body`` per task, each over whole shards, reading their rows of
    the union of the plans' scan terms itself — the plan scans no segment
    file. Output: (qid, docid, score) when `batch`, else the one plan's
    (docid, score); no plan joins or scans the docmap. `scope_bc` (a
    broadcast of sorted keys) or `scope_lids` ((shard, lid) rows) restrict
    the candidates.

    idf comes from the index's driver-side (df, idf) memo and rides the
    body's closure. The stage runs in `_kernel_tasks` tasks sized to the
    scan terms' postings (sum of df), not spark.sql.shuffle.partitions:
    its input is a driver-built frame of task descriptors,
    ``spark.range(0, n, 1, n)``, and task i reads shards i, i + n, ...
    One task is one partition, so the ``mapInArrow`` body and the
    caller's tail run as one stage. The large-scope path groups the
    scope's rows by shard (repartitioned by shard to the same count) and
    runs the same body on each one-shard group with ``applyInArrow``."""
    scan_terms = sorted({t for p in plans.values() for t in p.scan_terms})
    info = index.term_info(scan_terms)
    n = _kernel_tasks(index, sum(n for n, _v in info.values()))
    body = _task_body(index, plans, k, batch, {t: v for t, (_n, v) in info.items()}, scope_bc)
    schema = BATCH_SHARD_SCHEMA if batch else RESULT_SCHEMA
    n_shards = index.n_shards
    if scope_lids is None:

        def run(batches):
            for b in batches:
                for i in b.column(0).to_pylist():
                    yield from body(range(i, n_shards, n)).to_batches()

        return index.spark.range(0, n, 1, n).mapInArrow(run, schema)
    return scope_lids.repartition(n, "shard").groupBy("shard").applyInArrow(
        lambda scope: body([scope.column("shard")[0].as_py()], scope), schema=schema)


def _spark_topk(index: SegmentIndex, plan: QueryPlan | None, k: int,
                scope_bc=None, scope_lids: DataFrame | None = None) -> DataFrame:
    """A single-query entry point's body: the plan's shard stage and the
    TakeOrderedAndProject tail; an empty frame for a plan of None."""
    if plan is None:
        return index.spark.createDataFrame([], RESULT_SCHEMA)
    return _topk_tail(_shard_stage(index, {"": plan}, k, False, scope_bc, scope_lids), k)


def _spark_batch(index: SegmentIndex, queries: dict[str, str], k: int,
                 **plan_kw) -> DataFrame:
    """A batch entry point's body: one plan per query (a query that can
    match nothing gets no rows), one shard stage, one rank window."""
    plans = {}
    for qid, q in queries.items():
        plan = plan_query(index, q, k, **plan_kw)
        if plan is not None:
            plans[qid] = plan
    if not plans:
        return index.spark.createDataFrame([], BATCH_RESULT_SCHEMA)
    return _batch_tail(_shard_stage(index, plans, k, True), k)


def bm25_topk_phrase(
    index: SegmentIndex, phrase: str, k: int = 10, slop: int = 0
) -> DataFrame:
    """Exact phrase (slop=0) / ordered-NEAR (slop>0) top-k over the
    positional segment index (reference tsvector positions,
    backend/migrations/003:32). Returns DataFrame(docid, score) by
    (-score, docid) — rank/score-identical to OracleIndex.search_phrase
    (tested)."""
    return _spark_topk(index, plan_query(index, phrase, k, syntax="phrase", slop=slop), k)


def bm25_topk_near_unordered(
    index: SegmentIndex, query: str, k: int = 10, dist: int = 3
) -> DataFrame:
    """Ranked UNORDERED two-term proximity over the positional segment
    index (classic `A NEAR/k B`, Lucene/FTS default semantics; the ranked
    sibling of operators/search.match_near_unordered): top-k docs where
    the two analyzed tokens occur within `dist` filtered positions of each
    other IN EITHER ORDER, scored BM25 over both terms. Exactly two
    distinct analyzed tokens required — multi-term unordered coverage is a
    window-cover problem with different semantics (bm25_topk_phrase(slop)
    is the ordered m-term chain). Rank/score-identical to
    OracleIndex.search_near_unordered and ServingIndex.search_near_unordered
    (tested)."""
    return _spark_topk(index, plan_query(index, query, k, syntax="near", slop=dist), k)


def bm25_topk_wand(
    index: SegmentIndex,
    query: str,
    k: int = 10,
    mode: str = "and",
    allowed_docids=None,
    exclude_terms: list[str] | None = None,
    pre_analyzed: list[str] | None = None,
) -> DataFrame:
    """Top-k BM25 over the segment index. mode='and' (conjunctive, default)
    or 'or' (disjunctive). Returns DataFrame(docid, score) ordered by
    (-score, docid).

    `pre_analyzed` supplies already-analyzed index terms (e.g. the stemmed
    positive group from the websearch parser) and skips query analysis —
    Porter is not idempotent ('university'→'univers'→'univ'), so a caller
    holding stemmed terms must NOT round-trip them through the analyzer.
    `pre_analyzed` and `exclude_terms` must be in the analyzer's
    [a-z0-9]+ alphabet (ValueError otherwise).

    `allowed_docids` restricts the result to a caller-supplied global-docid
    scope (the reference limits every search to the caller's own documents,
    search.py:99-116 / F2-F3); corpus stats stay global — the scope filters
    candidates, it doesn't re-weigh the collection (documented semantics,
    matched by OracleIndex.search(allowed=...)). Small scopes (≤
    SCOPE_INLINE_MAX ids) ride a memoized broadcast; a large scope — a
    list above the threshold or any DataFrame of docids — is translated
    to (shard, lid) by a docmap join and COGROUPED with the segment rows,
    so it never materializes on the driver (a 10^8-id caller scope at
    100 TB stays distributed end to end). A DataFrame scope must belong to
    the SparkContext of `index.spark` (the index's isolated session shares
    the caller's context); one from another context raises ValueError.

    Spark work per query: one job, and no file scan in its plan. idf
    comes from the index's driver-side memo (a miss is a pyarrow read,
    not a job); the kernel task (which reads its terms' segment rows and
    maps its keys to docids) and the TakeOrderedAndProject run in one
    stage of one task below POSTINGS_PER_TASK postings, and in one stage
    of up to one task per core above it. The large-scope path adds the
    docmap semi-join that turns the scope's docids into lids and one
    shard exchange of those rows. AND semantics stay exact when a query
    term is unknown globally: no task then holds a list for it, so every
    task returns empty."""
    spark = index.spark
    if (
        isinstance(allowed_docids, DataFrame)
        and allowed_docids.sparkSession.sparkContext is not spark.sparkContext
    ):
        raise ValueError(
            "allowed_docids DataFrame belongs to another SparkContext than "
            "index.spark; build it on a session of the index's context"
        )
    plan = plan_query(index, query, k, mode, exclude_terms, pre_analyzed)
    scope_bc = scope_lids = None
    if plan is not None and allowed_docids is not None:
        if isinstance(allowed_docids, DataFrame) or len(allowed_docids) > SCOPE_INLINE_MAX:
            scope_df = allowed_docids
            if not isinstance(scope_df, DataFrame):
                scope_df = docid_frame(spark, allowed_docids)
            scope_lids = index.docmap.join(
                scope_df.select(F.col("docid").cast("long").alias("docid")),
                "docid",
                "left_semi",
            ).select("shard", F.col("local_id").alias("lid"))
        else:
            scope_bc = index.scope_broadcast(allowed_docids)
    return _spark_topk(index, plan, k, scope_bc, scope_lids)


def bm25_topk_websearch(
    index: SegmentIndex, query: str, k: int = 10
) -> DataFrame:
    """FULL websearch_to_tsquery semantics over the segment index
    (reference fusion.py:42): unprefixed words must ALL match, '"quoted
    words"' must additionally occur adjacently (chained <->), '-word'
    excludes documents containing it, '-"quoted words"' excludes documents
    containing the phrase adjacently, the standalone 'or' keyword joins
    conjunctive groups disjunctively (AND binds tighter), and a group-
    level contradiction drops that group (Postgres a & !a). Plain
    single-group queries ride the pruned AND path; single quoted groups
    run the combined positional kernel; everything else (OR / negated
    phrases) runs the group-union kernel. Rank/score bit-identical to
    OracleIndex.search_websearch (tested)."""
    return _spark_topk(index, plan_query(index, query, k, syntax="web"), k)


def bm25_topk_websearch_batch(
    index: SegmentIndex, queries: dict[str, str], k: int = 10
) -> DataFrame:
    """A whole batch of websearch queries (plain AND, '"quoted"' groups,
    '-term' negation, freely mixed) in ONE shard-kernel stage: each task
    reads its shards' rows of the union of every query's positive AND
    negated terms once and answers every query over its keyed lists;
    one per-query rank window. Returns (qid, rnk,
    docid, score) — identical to per-query bm25_topk_websearch (tested)."""
    return _spark_batch(index, queries, k, syntax="web")


def bm25_topk_phrase_batch(
    index: SegmentIndex, queries: dict[str, str], k: int = 10, slop: int = 0
) -> DataFrame:
    """Evaluate a batch of phrase/NEAR queries in ONE shard-kernel stage
    (same amortization as bm25_topk_wand_batch: each task reads its
    shards' positional rows of the union of all phrases' terms once and
    answers every phrase over its keyed lists, one rank window). Returns
    (qid, rnk, docid, score) — identical to per-query bm25_topk_phrase."""
    return _spark_batch(index, queries, k, syntax="phrase", slop=slop)


def bm25_topk_wand_batch(
    index: SegmentIndex, queries: dict[str, str], k: int = 10, mode: str = "and"
) -> DataFrame:
    """Evaluate a whole query batch in ONE shard-kernel stage.

    A point query is one Spark job of one stage and one task, and pays a
    fixed cost for it (traced ``wand.exec_ms`` 110 ms on a 4-vCPU host;
    ~44-47 ms of CPU per extra task, see POSTINGS_PER_TASK); a search
    engine's natural unit is the query *stream* (the reference's design
    target is 100 q/s, PIPELINE.md:350). Here: one kernel stage whose
    tasks each read their shards' rows of the union of all queries'
    terms once and answer every query over their keyed lists, one final
    per-query rank window over ~n_queries * n_tasks * k tiny rows.

    Returns DataFrame(qid, rnk, docid, score), rank per query by
    (-score, docid) — identical results to per-query bm25_topk_wand
    (tested)."""
    return _spark_batch(index, queries, k, mode=mode)
