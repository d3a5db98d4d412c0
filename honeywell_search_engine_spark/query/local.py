"""Serving-node query path: in-process BM25 over the Spark-built segments.

Why this exists: the reference's latency targets (p95 < 500 ms, 100 q/s —
reference PIPELINE.md:349-350) describe its *serving process* (FastAPI +
Postgres GIN lookups, backend/app/routers/search.py), not a batch engine.
Spark is the right tool for building, merging, and compacting the index
and for batch query workloads (query/wand.py), but a Spark point query
carries a fixed cost that no kernel speed can remove: it is one job of
one stage and one task, and its traced ``wand.exec_ms`` measured
210-267 ms on a 4-vCPU host (perfbench ``spark-point``), with ~94 ms of
CPU for each extra Python task (wand.POSTINGS_PER_TASK). The deployment
story at 10^12 docs is the standard one: Spark writes immutable segments
to the lake; stateless serving nodes read them.

This module is that serving node, and the one query surface every
in-process front end shares (``QuerySurface``: search, search_websearch,
search_phrase, search_near_unordered, search_response). Each method plans
the query once (query/wand.py ``plan_query``) and hands the plan to the
front end's ``_search``: ``ServingIndex`` evaluates it once over all its
shards, ``ShardRouter`` and ``GenerationSet`` (query/generations.py) over
their members' ``_search``, merged with ``top_k``. The node is bit-exact
with the Spark path by construction — the SAME plan step and evaluator
(``evaluate``) over the SAME encoded rows; only the I/O differs:

- posting rows: a pyarrow.parquet read of the query's bucket files
  under ``{index}/segments`` — the file list comes from one dataset open
  per node, each file's footer is parsed once and kept until
  ``reload()``, and only the row groups whose term min/max can hold a
  wanted term are read, only the columns the kernels read — so a query
  touches only its terms' lists (the whole point of an inverted index),
  a few KB-MB regardless of corpus size. Each term's rows are built
  straight from the Arrow columns (segments.enc_from_arrow), fused into
  ONE list over the node's shards (segments.fuse_rows: postings keyed
  (shard << 32) | lid) and LRU-memoized per term (hot-term working set).
  positions/p_off are read only for a positional plan's terms: an
  AND/OR term's entry holds none, and its first positional use reads
  the term's rows again, with them, as a miss.
- idf: ln1p((N-df+.5)/(df+.5)) with df = Σ n over the term's segment
  rows of all shards (the sum term_stats stores), taken from the same
  read and kept with the rows in the term's one LRU entry — the query
  path never reads term_stats. A GenerationSet sums its members' df and
  hands the logical df to every member's ``_eval``.
- docid rehydration: the docmap (forward index / docvalues) is loaded as
  one sorted key -> docid pair of arrays (and docid -> key for
  tombstones and scopes). At bench scale that is a few MB; at 10^12
  docs a serving node holds only ITS shards' docvalues (mmap/KV-backed),
  exactly like Lucene docvalues — the array layout here is that design
  at sandbox scale.
- decode: each term's fused list is decoded once into a byte-budgeted
  LRU (``_memo``). A query's lists that miss it decode together in ONE
  ``codec.decode_many`` call: one block decode per stream, not three per
  list (a pfor stream's values unpack in one gather,
  ``codec.pfor_decode_at``). ``_eval`` hands the evaluator the decoded
  PostingLists (full-scan kernels) when every list the plan touches is
  at most FULLSCAN_MAX_POSTINGS long, else the MemoLists (block-max-
  pruned kernels, block decode = a slice) — then ONE ``evaluate`` call
  per query and one key -> docid lookup.

Tombstones are read from the same manifest files as the Spark path and
translated to sorted keys with a vectorized searchsorted. An instance is a
snapshot of one immutable index generation (see query/cache.py — staged
swaps require reopening to observe).
"""

from __future__ import annotations

import json
import math
from bisect import bisect_left
from collections import OrderedDict

import numpy as np

from honeywell_search_engine_spark.index import codec
from honeywell_search_engine_spark.index.segments import (
    bucket_of,
    enc_from_arrow,
    fuse_rows,
    load_tombstones,
)
from honeywell_search_engine_spark.query import respond
from honeywell_search_engine_spark.query import wand as W


# Fused-list size (a term over all the node's shards: the one list an
# ``evaluate`` call sees) above which a serving query switches from the
# fully-vectorized full-scan kernels to the block-walk kernels with exact
# block-max pruning (decode-free via MemoList slices). The value, chosen
# when the check was per shard, is kept; a measured cost rule is still
# open. A full scan costs ~10 ns/posting, so a 128k list is ~1.3 ms —
# about the fixed bookkeeping cost of the pruning kernels; below it the
# scan wins (measured ~3x at 20k docs), above it pruning's skipped work
# dominates (a Zipf head term at web scale is 10^6-10^8 postings/shard).
FULLSCAN_MAX_POSTINGS = 1 << 17

# the segment columns a serving read takes: what the kernels read, plus
# the positions stream for the rows of a positional term
_ROW_COLS = ("term", "shard", "n", "bmax_docid", "bmax_u", "d_off", "t_off", "l_off",
             "deltas", "tfs", "doclens", "fmt")
_POS_COLS = ("positions", "p_off")


def _succ_prefix(prefix: str) -> str | None:
    """Smallest string greater than every string with prefix `prefix`:
    the last code point incremented (dropping trailing U+10FFFF, which
    has no successor). [prefix, _succ_prefix(prefix)) is the exact
    prefix range under code-point order — unlike prefix+U+FFFF, it
    admits supplementary-plane continuations. None ⇒ no finite upper
    bound exists (prefix is all U+10FFFF)."""
    for i in range(len(prefix) - 1, -1, -1):
        cp = ord(prefix[i])
        if cp < 0x10FFFF:
            # skip the surrogate block: chr(0xD800..0xDFFF) is a lone
            # surrogate that cannot be UTF-8 encoded when pyarrow builds
            # the `term < ub` filter (a prefix ending in U+D7FF would
            # otherwise raise instead of suggesting) — the next valid
            # scalar after U+D7FF is U+E000 (r6 advice, low)
            nxt = 0xE000 if 0xD800 <= cp + 1 <= 0xDFFF else cp + 1
            return prefix[:i] + chr(nxt)
    return None


def _holds_any(terms: list[str], lo: str, hi: str) -> bool:
    """True if the sorted `terms` hold one in [lo, hi]."""
    i = bisect_left(terms, lo)
    return i < len(terms) and terms[i] <= hi


def top_k(parts, k: int) -> list[tuple[int, float]]:
    """The first `k` of the hit lists `parts` [(docid, score)] under the
    total order (-score, docid) — the one merge of shards, nodes and
    generations. Exact when each part holds its own top-k: scores are
    member-independent and a document lives in exactly one part."""
    out = [h for p in parts for h in p]
    out.sort(key=lambda r: (-r[1], r[0]))
    return out[:k]


class QuerySurface:
    """The query surface of every in-process front end. Each method
    analyzes and validates the query once (wand.plan_query — it reads
    only ``self.stemmed``) and evaluates the plan with ``self._search``,
    the one method a front end supplies; search_response composes over
    ``self._fetch_texts`` once ``attach_docs`` was called."""

    def _search(self, plan, k: int, allowed_docids=None) -> list[tuple[int, float]]:
        """[(docid, score)]: the top-k of a wand.QueryPlan (None matches
        nothing) under (-score, docid), scoped to `allowed_docids`."""
        raise NotImplementedError

    def search(
        self,
        query: str,
        k: int = 10,
        mode: str = "and",
        allowed_docids=None,
        exclude_terms: list[str] | None = None,
        pre_analyzed: list[str] | None = None,
    ) -> list[tuple[int, float]]:
        """[(docid, score)] by (-score, docid) — rank/score bit-identical
        to query/wand.bm25_topk_wand (tested on the reference query set).
        `exclude_terms` is websearch '-term' negation (AND mode only).
        `pre_analyzed` supplies already-analyzed (stemmed) index terms and
        skips query analysis — Porter is not idempotent, so delegating
        callers must not round-trip stems through the analyzer."""
        plan = W.plan_query(self, query, k, mode, exclude_terms, pre_analyzed)
        return self._search(plan, k, allowed_docids)

    def search_websearch(self, query: str, k: int = 10) -> list[tuple[int, float]]:
        """FULL websearch_to_tsquery semantics (quoted adjacency groups,
        '-term' negation, '-"quoted"' negated phrases, the 'or' keyword)
        — mirrors query/wand.bm25_topk_websearch, bit-identical. Never
        raises on user query strings (round-3 advice)."""
        return self._search(W.plan_query(self, query, k, syntax="web"), k)

    def search_phrase(
        self, phrase: str, k: int = 10, slop: int = 0
    ) -> list[tuple[int, float]]:
        """Exact phrase / ordered-NEAR — mirrors wand.bm25_topk_phrase.

        Positional decode rides a (term, shard)-keyed LRU of fully-decoded
        posting lists, so a warm phrase query costs only intersection +
        positional verify — no varbyte work (measured ~3x faster at 60k
        docs; same results, pinned vs the Spark path and oracle)."""
        return self._search(W.plan_query(self, phrase, k, syntax="phrase", slop=slop), k)

    def search_near_unordered(
        self, query: str, k: int = 10, dist: int = 3
    ) -> list[tuple[int, float]]:
        """Ranked unordered two-term NEAR — mirrors
        wand.bm25_topk_near_unordered (same decoded-postings LRU hot path
        as search_phrase; rank/score bit-identical, tested)."""
        return self._search(W.plan_query(self, query, k, syntax="near", slop=dist), k)

    def search_response(
        self,
        query: str,
        k: int = 10,
        mode: str = "and",
        rerank_from: int | None = None,
    ) -> list[tuple]:
        """The reference's full search-response row, served Spark-free:
        [(rnk, docid, score_r, snippet, highlights, lex_score, has_oie,
        confidence)] — row-identical to the Spark path
        (operators/serving.search_response_indexed; parity pinned in
        tests/test_serving.py). BM25 top-k runs on the pruned posting
        lists as usual; the composition (query/respond.py mirrors of the
        snippet/highlight/triple operators) touches only the k hit
        documents, fetched from the attached docs store.

        `rerank_from=N` routes through the deterministic rerank stage
        (R7 analog): candidates = disjunctive top-N, feature-rescored
        (respond.rerank_hits_py ≡ operators/serving.rerank_topk), top-k
        of THAT order composed (rnk = rerank order, score_r = rerank
        score)."""
        return respond.search_response(self, query, k, mode, rerank_from)


class ServingIndex(QuerySurface):
    """Spark-free reader over a segment index directory (serving node)."""

    def __init__(
        self,
        path: str,
        term_cache_capacity: int = 65536,
        dec_cache_bytes: int = 256 << 20,
        shards: list[int] | None = None,
    ):
        import pyarrow.parquet as pq

        self.path = path
        # shard-subset mode (the 10^12-doc deployment unit): this node
        # owns only `shards` — docmap rows and posting payloads load for
        # those shards alone, so per-node memory scales with owned
        # shards, not the corpus; idf still uses GLOBAL df (see _rows_for),
        # so scores are node-independent and a ShardRouter merge is exact.
        self._shards = sorted(set(int(s) for s in shards)) if shards is not None else None
        with open(f"{path}/stats.json") as f:
            meta = json.load(f)
        self.n_docs = int(meta["n_docs"])
        self.avgdl = float(meta["avgdl"])
        self.n_shards = int(meta["n_shards"])
        self.n_buckets = int(meta["n_buckets"])
        # a Porter-stemmed index stems its queries too (same contract as
        # the Spark path — wand._analyzers_for reads this flag)
        self.stemmed = bool(meta.get("stemmed", False))
        self.codec_fmt = meta.get("codec", "vb")
        # forward index: sorted posting keys (shard << 32) | lid with
        # their docids, and the sorted docids with their keys
        dm = pq.read_table(
            f"{path}/docmap", columns=["shard", "local_id", "docid"],
            filters=(
                [("shard", "in", self._shards)]
                if self._shards is not None
                else None
            ),
        )
        keys = codec.keys_of(dm.column("shard").to_numpy(), dm.column("local_id").to_numpy())
        docid = dm.column("docid").to_numpy()
        o = np.argsort(keys)
        self._keys, self._docid_of = keys[o], docid[o]
        o = np.argsort(docid)
        self._by_docid = (docid[o], keys[o])
        # tombstones -> sorted keys
        self._dead = self._keys_of(load_tombstones(path))
        # {bucket: segment files}: listed from one segments dataset open
        # on the first term-row miss, and serving every later miss (no
        # per-miss file discovery)
        self._bucket_files: dict[int, list[str]] | None = None
        # path -> (footer, column names, [(row group, term min, term max)]):
        # each file's footer is parsed once, on its bucket's first read
        self._footers: dict[str, tuple] = {}
        # term -> (df, the owned shards' fused EncodedList or None,
        # positions read)
        self._term_lru: OrderedDict[str, tuple] = OrderedDict()
        self._term_cap = term_cache_capacity
        # decoded-postings LRU: term -> codec.MemoList (the fused list +
        # its full decode). BYTE-budgeted, not entry-counted: a head
        # term's entry is 10^4x a tail term's, so a count cap either
        # under-uses memory or blows it — `dec_cache_bytes` (default
        # 256 MiB) is the serving node's decoded-working-set budget; the
        # hot (Zipf head) terms that dominate hits fit first, and
        # eviction only ever hits cold tail entries (which are cheap to
        # re-decode by definition).
        self._dec_lru: OrderedDict[str, codec.MemoList] = OrderedDict()
        self._dec_budget = int(dec_cache_bytes)
        self._dec_bytes = 0

    def reload(self) -> "ServingIndex":
        """Re-open the index in place after maintenance mutated it on disk
        (promote_generation / merge_deltas / compact): re-reads stats,
        docmap, and tombstones, and drops every cache (term-row and df
        LRU, decoded-postings LRU, hot-document LRU) — no process
        restart; an attached docs store is re-attached with its
        columns and its document-cache cap, and the listed segment
        files and the cached parquet footers are dropped. Posting rows
        are read lazily per query from the files one segments dataset
        listed on the node's first term miss, each file's footer parsed
        on its first read and kept; every read opens its file anew. A
        node that is not reloaded after an on-disk swap keeps serving
        its cached terms from the old view; an UNCACHED term (or a
        cached term's first positional use) is read from the listed
        files: a file the maintenance replaced fails the read
        (FileNotFoundError) instead of pairing new postings with old
        stats, and a file it added is not seen. For strict consistency
        either promote into a versioned directory and open a fresh node
        on it, or drain the node around the maintenance window; reload()
        is the refresh-in-place hook. A GenerationSet member should not be
        reloaded directly (the injected global stats/shadows would be
        lost) — re-open the GenerationSet instead."""
        self.__init__(
            self.path,
            term_cache_capacity=self._term_cap,
            dec_cache_bytes=self._dec_budget,
            shards=self._shards,
        )
        if hasattr(self, "_docs_path"):  # __init__ keeps the attach settings
            self.attach_docs(
                self._docs_path, self._docs_id_col, self._docs_text_col, self._doc_cap
            )
        return self

    # ---- translation ----------------------------------------------------

    def _keys_of(self, docids) -> np.ndarray:
        """Sorted posting keys of the `docids` this node holds."""
        ids = np.fromiter(docids, dtype=np.int64)
        ds, ks = self._by_docid
        pos = np.searchsorted(ds, ids)
        ok = pos < ds.size
        ok[ok] = ds[pos[ok]] == ids[ok]
        return np.unique(ks[pos[ok]])

    # ---- pruned posting reads --------------------------------------------

    def _rows_for(self, terms, need_pos=()) -> tuple[dict[str, int], dict]:
        """({term: df}, {term: fused EncodedList | None}) — LRU first,
        then ONE read (``_read_terms``) for every missing term and every
        term of `need_pos` cached without its positions. df is Σ n over
        the term's rows of ALL shards (the sum term_stats stores), kept
        with the lists in the term's one LRU entry. Positions are read
        only for the terms of `need_pos`: an AND/OR term's entry holds
        none until its first positional use reads them."""
        df: dict[str, int] = {}
        rows: dict[str, dict] = {}
        read = []
        for t in dict.fromkeys(terms):
            hit = self._term_lru.get(t)
            if hit is None or (t in need_pos and not hit[2]):
                read.append(t)
            else:
                self._term_lru.move_to_end(t)
                df[t], rows[t], _ = hit
        if read:
            for t, entry in self._read_terms(read, need_pos).items():
                self._term_lru[t] = entry
                self._term_lru.move_to_end(t)
                df[t], rows[t], _ = entry
                if len(self._term_lru) > self._term_cap:
                    self._term_lru.popitem(last=False)
        return df, rows

    def _footer(self, path: str) -> tuple:
        """(footer, column names, [(row group, term min, term max)]) of one
        segment file, parsed on its first read and kept until reload();
        a row group without term statistics gets (rg, None, None)."""
        f = self._footers.get(path)
        if f is None:
            import pyarrow.parquet as pq

            md = pq.read_metadata(path)
            names = set(md.schema.to_arrow_schema().names)
            ci = next(i for i in range(md.num_columns) if md.schema.column(i).path == "term")
            ranges = []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ci).statistics
                ok = st is not None and st.has_min_max
                ranges.append((rg, st.min if ok else None, st.max if ok else None))
            f = self._footers[path] = (md, names, ranges)
        return f

    def _read_terms(self, terms: list[str], need_pos) -> dict[str, tuple]:
        """{term: (df, fused EncodedList | None, positions read)} for
        `terms`, read with pyarrow.parquet from their buckets' files: per
        file only the row groups whose term min/max can hold one of the
        bucket's terms, then those terms' rows, in the ``_ROW_COLS``.
        ``_POS_COLS`` are read where a term of `need_pos` is, and only
        those terms' lists keep them. Each term's rows fuse into one list
        over the node's shards (``fuse_rows``; None when it has none). A
        shard-subset node takes df from every shard's rows and builds its
        lists from its own shards alone — one read either way."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        if self._bucket_files is None:
            import pyarrow.dataset as ds

            self._bucket_files = {}
            segments = ds.dataset(f"{self.path}/segments", format="parquet", partitioning="hive")
            for frag in segments.get_fragments():
                b = ds.get_partition_keys(frag.partition_expression)["bucket"]
                self._bucket_files.setdefault(int(b), []).append(frag.path)
        dfs = dict.fromkeys(terms, 0)
        row_terms, row_shards, encs = [], [], []
        by_bucket: dict[int, list[str]] = {}
        for t in sorted(terms):
            by_bucket.setdefault(bucket_of(t, self.n_buckets), []).append(t)
        for b, ts in by_bucket.items():
            cols = _ROW_COLS + (_POS_COLS if any(t in need_pos for t in ts) else ())
            for path in self._bucket_files.get(b, ()):
                md, names, ranges = self._footer(path)
                rgs = [rg for rg, lo, hi in ranges if lo is None or _holds_any(ts, lo, hi)]
                if not rgs:
                    continue
                with pq.ParquetFile(path, metadata=md) as f:
                    tbl = f.read_row_groups(
                        rgs, columns=[c for c in cols if c in names], use_threads=False
                    )
                tbl = tbl.filter(pc.is_in(tbl.column("term"), value_set=pa.array(ts)))
                for t, n in zip(tbl.column("term").to_pylist(), tbl.column("n").to_pylist()):
                    dfs[t] += n
                if self._shards is not None:
                    tbl = tbl.filter(pa.array(np.isin(tbl.column("shard").to_numpy(), self._shards)))
                here = tbl.column("term").to_pylist()
                row_terms += here
                row_shards += tbl.column("shard").to_pylist()
                encs += enc_from_arrow(tbl, [t in need_pos for t in here])
        lists = fuse_rows(row_terms, row_shards, encs)
        return {t: (dfs[t], lists.get(t), t in need_pos) for t in terms}

    # ---- queries ----------------------------------------------------------

    def _search(self, plan, k: int, allowed_docids=None) -> list[tuple[int, float]]:
        """Evaluate a wand.QueryPlan (None: matches nothing) over this
        node: the pruned row fetch with its df, then ``_eval``."""
        if plan is None:
            return []
        return self._eval(plan, k, allowed_docids,
                          *self._rows_for(plan.scan_terms, plan.need_pos))

    def _eval(self, plan, k: int, allowed_docids, df: dict[str, int],
              rows_by_term: dict) -> list[tuple[int, float]]:
        """The top-k of `plan` over `rows_by_term` (``_rows_for``: one
        fused list per term), with idf from `df` — this node's own, or a
        GenerationSet's logical df. The lists come from ``_memo`` in one
        call; the evaluator gets PostingLists (full-scan kernels) when
        every list is <= FULLSCAN_MAX_POSTINGS, else MemoLists (exact
        block-max pruning; block decode is a slice of the cached
        decode). Then ONE wand.evaluate call over the node's keyed
        lists, tombstones and scope, one key -> docid lookup and the
        (-score, docid) cut."""
        rows = {t: r for t, r in rows_by_term.items() if r is not None}
        if not rows or any(t not in rows for t in plan.required):
            return []  # a required term has no rows here -> no hit
        idf = {t: math.log1p((self.n_docs - df[t] + 0.5) / (df[t] + 0.5)) for t in rows}
        lists = self._memo(rows, plan.need_pos)
        full_scan = max(ml.n for ml in lists.values()) <= FULLSCAN_MAX_POSTINGS
        res = W.evaluate(
            plan, {t: ml.pl if full_scan else ml for t, ml in lists.items()}, idf,
            self.avgdl, k, self._dead,
            self._keys_of(allowed_docids) if allowed_docids is not None else None,
        )
        docids = self._docid_of[np.searchsorted(self._keys, [key for key, _ in res])]
        scores = np.array([v for _, v in res], dtype=np.float64)
        o = np.lexsort((docids, -scores))[:k]
        return list(zip(docids[o].tolist(), scores[o].tolist()))

    def _memo(self, rows: dict, need_pos) -> dict:
        """{term: MemoList} for `rows` {term: fused EncodedList}: the list
        + its full decode (codec.MemoList), LRU-memoized — the hot-term
        working set of a serving node, same idea as the encoded-row LRU
        one level up. Kernels run on it unchanged (block decode = slice),
        so warm queries keep block-max pruning but skip codec work. Every
        miss decodes in ONE ``codec.decode_many`` call (one block decode
        per stream) and is inserted into the LRU. Positions (flat
        absolute) decode only for the terms of `need_pos`; an entry
        cached without them is upgraded in place, so AND/OR traffic never
        pays for position decode and a later phrase query on the same
        term still hits the LRU."""
        out, miss = {}, []
        for term, enc in rows.items():
            ml = self._dec_lru.get(term)
            if ml is None or (term in need_pos and ml.pl.positions is None):
                miss.append(term)
            else:
                self._dec_lru.move_to_end(term)
                out[term] = ml
        decoded = codec.decode_many([rows[t] for t in miss], [t in need_pos for t in miss])
        for term, pl in zip(miss, decoded):
            out[term] = ml = codec.MemoList(rows[term], pl)
            old = self._dec_lru.pop(term, None)
            if old is not None:  # positions upgrade replaces the entry
                self._dec_bytes -= old.nbytes
            if ml.nbytes > self._dec_budget:
                # An entry that alone exceeds the budget (a Zipf head
                # term at scale: 10^7+ postings decodes past the 256 MiB
                # default) must NOT enter the LRU — inserting it first
                # would flush every other warm entry before being
                # discarded itself. This query serves it from the batch.
                continue
            self._dec_lru[term] = ml
            self._dec_bytes += ml.nbytes
            while self._dec_bytes > self._dec_budget:
                _, old = self._dec_lru.popitem(last=False)
                self._dec_bytes -= old.nbytes
        return out

    # ---- suggest / spell (serving-side mirrors of query/suggest.py) ------

    def suggest(self, prefix: str, k: int = 10) -> list[tuple[str, int]]:
        """Serving-node autocomplete: dictionary terms extending `prefix`,
        most-frequent first — [(term, df)], rank-identical to
        query/suggest.suggest_terms (df desc, term asc). The prefix is
        pushed as a half-open range [prefix, succ(prefix)) into the
        term_stats parquet scan — the finalize step writes it
        term-sorted, so row-group min/max statistics prune to the
        prefix's range — and verified exactly with str.startswith on
        the pruned slice. The upper bound is the SUCCESSOR prefix (last
        code point incremented, see _succ_prefix), not prefix+U+FFFF:
        a term whose next character after the prefix is
        supplementary-plane (> U+FFFF) compares greater than that
        bound and would be silently excluded even though it extends
        the prefix."""
        if not prefix:
            return []
        import pyarrow.dataset as ds

        data = ds.dataset(f"{self.path}/term_stats", format="parquet")
        flt = ds.field("term") >= prefix
        ub = _succ_prefix(prefix)
        if ub is not None:
            flt = flt & (ds.field("term") < ub)
        tbl = data.to_table(filter=flt, columns=["term", "df"])
        rows = [
            (t, int(d))
            for t, d in zip(
                tbl.column("term").to_pylist(), tbl.column("df").to_pylist()
            )
            if t.startswith(prefix)
        ]
        rows.sort(key=lambda r: (-r[1], r[0]))
        return rows[:k]

    def correct_terms(
        self, terms: list[str], spell_dir: str, max_edit: int = 2, k: int = 3
    ) -> dict[str, list[tuple[str, int, int]]]:
        """Serving-side SymSpell lookup against a persisted deletes table
        (query/suggest.build_spell_table(out_dir=...)): {qterm: [(term,
        distance, df)]} ranked (distance asc, df desc, term asc) —
        candidate-set- and rank-identical to query/suggest.correct_terms
        (same delete-key theorem, same verify). The parquet read is
        filtered to the query terms' delete neighborhoods — a few hundred
        keys — so a serving node never scans the dictionary."""
        from honeywell_search_engine_spark.query.suggest import (
            py_deletes,
            py_levenshtein,
        )

        import pyarrow.dataset as ds

        qterms = list(dict.fromkeys(terms))
        if not qterms:
            return {}
        keys_by_term = {t: py_deletes(t, max_edit) for t in qterms}
        all_keys = sorted(set().union(*keys_by_term.values()))
        data = ds.dataset(spell_dir, format="parquet")
        tbl = data.to_table(
            filter=ds.field("delkey").isin(all_keys),
            columns=["delkey", "term", "df"],
        )
        by_key: dict[str, set] = {}
        cand_df: dict[str, int] = {}
        for dk, t, df in zip(
            tbl.column("delkey").to_pylist(),
            tbl.column("term").to_pylist(),
            tbl.column("df").to_pylist(),
        ):
            by_key.setdefault(dk, set()).add(t)
            cand_df[t] = int(df)
        out: dict[str, list[tuple[str, int, int]]] = {}
        for q in qterms:
            cands = set()
            for dk in keys_by_term[q]:
                cands |= by_key.get(dk, set())
            scored = [
                (t, d, cand_df[t])
                for t in cands
                if (d := py_levenshtein(q, t)) <= max_edit
            ]
            scored.sort(key=lambda r: (r[1], -r[2], r[0]))
            out[q] = scored[:k]
        return out

    def did_you_mean(
        self, query: str, spell_dir: str, max_edit: int = 2
    ) -> tuple[str, bool]:
        """Serving-side rewrite, mirror of query/suggest.did_you_mean:
        analyze with THIS index's analyzer (stemmed or plain), pass
        in-dictionary terms through (their distance-0 self-candidate
        ranks first), replace out-of-dictionary terms with their best
        candidate. Returns (corrected_query, changed)."""
        _aq, _tok, _sg = W._analyzers_for(self)
        qterms = _aq(query)
        if not qterms:
            return query, False
        best = {
            q: c[0][0]
            for q, c in self.correct_terms(
                qterms, spell_dir, max_edit, k=1
            ).items()
            if c
        }
        fixed = [best.get(t, t) for t in qterms]
        return " ".join(fixed), fixed != qterms

    # ---- full response rows (reference API row, Spark-free) --------------

    def attach_docs(
        self,
        docs_path: str,
        id_col: str = "docid",
        text_col: str = "text",
        doc_cache_entries: int = 4096,
    ) -> None:
        """Attach the forward text store (a docs parquet with
        (id_col, text_col)) — search_response fetches the k hit
        documents' text from it per query (query/respond.fetch_texts).
        The dataset handle is opened once here — per-query fetches skip
        the file-listing/metadata walk and go straight to the pushed
        id-filter read. `doc_cache_entries` bounds the hot-document text
        LRU (the standard serving document cache: Zipf queries hit the
        same head documents, so distinct queries still reuse fetches)."""
        import pyarrow.dataset as ds

        self._docs_path = docs_path
        self._docs_id_col = id_col
        self._docs_text_col = text_col
        self._docs_ds = ds.dataset(docs_path, format="parquet")
        self._doc_lru: OrderedDict[int, str | None] = OrderedDict()
        self._doc_cap = int(doc_cache_entries)

    def _fetch_texts(
        self, docids: list[int], found_only: bool = False
    ) -> dict[int, str]:
        """docid -> text through the document LRU; only cache misses hit
        the parquet store, in ONE pushed id-filter read. The LRU caches
        absence as None (negative lookups are as hot as hits under Zipf
        traffic); by default an absent id resolves to "" (the Spark
        path's left-join null→default), while `found_only=True` omits it
        — the distinction GenerationSet needs for newest-wins over
        per-generation stores where an EMPTY newest text must still win
        (r6 advice, low)."""
        out: dict[int, str] = {}
        missing = []
        _ABSENT = self._doc_lru  # unique sentinel, never a cached value
        for d in docids:
            t = self._doc_lru.get(d, _ABSENT)
            if t is _ABSENT:
                missing.append(d)
            else:
                self._doc_lru.move_to_end(d)
                if t is not None:
                    out[d] = t
                elif not found_only:
                    out[d] = ""
        if missing:
            fetched = respond.fetch_texts(
                self._docs_path, missing, self._docs_id_col,
                self._docs_text_col, dataset=self._docs_ds,
            )
            for d in missing:
                t = fetched.get(d)  # None ⇔ id absent from the store
                self._doc_lru[d] = t
                if t is not None:
                    out[d] = t
                elif not found_only:
                    out[d] = ""
            while len(self._doc_lru) > self._doc_cap:
                self._doc_lru.popitem(last=False)
        return out


class ShardRouter(QuerySurface):
    """Fan-out over shard-subset ServingIndex nodes — the 10^12-doc
    serving topology at sandbox scale: `n_shards` shards are dealt
    round-robin to `n_nodes` nodes, each node loads ONLY its shards'
    docmap and posting payloads (memory per node scales with owned
    shards, not corpus), and the router merges per-node top-k.

    The merge is exact: every node scores with GLOBAL df (ServingIndex
    shard-subset mode reads df from segment metadata across all shards),
    so scores are node-independent, and each node's (-score, docid)
    ordering is total, so the global top-k is contained in the union of
    per-node top-k lists. Results are bit-identical to a single
    full-index ServingIndex (tested)."""

    def __init__(self, path: str, n_nodes: int = 2, **kw):
        if n_nodes < 1:
            raise ValueError(f"n_nodes must be >= 1; got {n_nodes!r}")
        with open(f"{path}/stats.json") as f:
            n_shards = int(json.load(f)["n_shards"])
        self.nodes = [
            ServingIndex(path, shards=list(range(i, n_shards, n_nodes)), **kw)
            for i in range(min(n_nodes, n_shards))
        ]
        self.stemmed = self.nodes[0].stemmed
        # in-process stand-in for the scatter-gather RPC: node queries run
        # on a thread pool (numpy/pyarrow release the GIL for the heavy
        # parts), so router latency tracks the slowest node, not the sum
        self._map = map
        if len(self.nodes) > 1:
            from concurrent.futures import ThreadPoolExecutor

            self._map = ThreadPoolExecutor(max_workers=len(self.nodes)).map

    def _search(self, plan, k: int, allowed_docids=None) -> list[tuple[int, float]]:
        """The exact scatter-gather: every node's top-k of the one plan,
        merged by top_k."""
        return top_k(
            self._map(lambda n: n._search(plan, k, allowed_docids), self.nodes), k
        )

    def reload(self) -> "ShardRouter":
        """Refresh every node from the on-disk index (see
        ServingIndex.reload) — fan out over the same thread pool so the
        router's refresh gap tracks the slowest node, not the sum."""
        list(self._map(lambda n: n.reload(), self.nodes))
        return self

    # ---- dictionary surface ----------------------------------------------
    # suggest / spell read index-GLOBAL metadata (term_stats and the
    # SymSpell deletes table live at the shared lake path, identical from
    # every node — shard-subset mode restricts only docmap + posting
    # payloads), so any node answers exactly; no scatter-gather. The
    # router routes them to one node — this is the real topology too:
    # autocomplete boxes hit any serving node, not all of them.

    def suggest(self, prefix: str, k: int = 10) -> list[tuple[str, int]]:
        return self.nodes[0].suggest(prefix, k=k)

    def correct_terms(
        self, terms: list[str], spell_dir: str, max_edit: int = 2, k: int = 3
    ) -> dict[str, list[tuple[str, int, int]]]:
        return self.nodes[0].correct_terms(terms, spell_dir, max_edit, k)

    def did_you_mean(
        self, query: str, spell_dir: str, max_edit: int = 2
    ) -> tuple[str, bool]:
        return self.nodes[0].did_you_mean(query, spell_dir, max_edit)

    def attach_docs(
        self,
        docs_path: str,
        id_col: str = "docid",
        text_col: str = "text",
        doc_cache_entries: int = 4096,
    ) -> None:
        """Attach the forward text store. The router composes responses
        from the merged hit set, fetching through its first node, so only
        that node opens the store (and re-attaches it on reload)."""
        self.nodes[0].attach_docs(docs_path, id_col, text_col, doc_cache_entries)
        self._docs_path = docs_path

    def _fetch_texts(self, docids: list[int]) -> dict[int, str]:
        return self.nodes[0]._fetch_texts(docids)
