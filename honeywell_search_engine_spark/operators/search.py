"""In-flight (index-free) search operators over any (id, text) DataFrame.

These run the same analyzer + BM25 semantics as the segment engine but as a
single lazy Catalyst plan — no persisted index. They exist for (a) the
driver's DuckDB-oracle correctness gate, (b) ad-hoc one-shot queries where
building an index isn't worth it, and (c) defining the reference operator
semantics (F4 AND-match, F5 OR-match, K1 lexical top-k, K4 rank assignment;
reference fusion.py:36-88, search.py:33-44).

Determinism contract (same as the oracle / segment engine): float64,
per-doc term contributions summed in lexicographic term order, rank order
(-score, docid). The matching DuckDB SQL in __spark_entry__.oracle_sql uses
the identical operation order, making scores bit-comparable across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from honeywell_search_engine_spark import B, K1
from honeywell_search_engine_spark.functions.analyzer import analyze_query
from honeywell_search_engine_spark.functions.analyzer import tokens_col
from honeywell_search_engine_spark.index.stats import idf_col


def doc_tokens(
    docs: DataFrame, id_col: str, text_col: str, stem: bool = False
) -> DataFrame:
    """(id, tokens, doclen) — JVM-side tokenization, whole-stage codegen.
    `stem=True` adds the Arrow-batched Porter stage (functions/stemmer.py,
    reference T8/T9: to_tsvector('english', ...) stems via Snowball)."""
    toks = tokens_col(text_col)
    if stem:
        from honeywell_search_engine_spark.index.corpus import stem_tokens_udf

        toks = stem_tokens_udf(toks)
    return docs.select(
        F.col(id_col).alias("docid"),
        toks.alias("tokens"),
    ).withColumn("doclen", F.size("tokens"))


def doc_term_freqs(
    docs: DataFrame, id_col: str, text_col: str, stem: bool = False
) -> DataFrame:
    """(docid, term, tf, doclen) rows — map-side combined hash aggregate."""
    t = doc_tokens(docs, id_col, text_col, stem=stem)
    return (
        t.select("docid", "doclen", F.explode("tokens").alias("term"))
        .groupBy("docid", "term")
        .agg(F.count("*").alias("tf"), F.first("doclen").alias("doclen"))
    )


def _inrow_tf(tokens_col_name: str, term: str):
    """tf of a literal `term` computed in-row over the token array — no
    explode, no shuffle. size − size(array_remove) rather than
    size(filter(...)): higher-order functions are CodegenFallback
    (interpreted per row, boxing every element) while ArrayRemove/Size
    generate code — measured ~2× on the 3-term conjunctive query at the
    driver-scale corpus. Same integer: array_remove drops ALL
    occurrences of the literal (token arrays are null-free by
    construction)."""
    return F.size(tokens_col_name) - F.size(
        F.array_remove(tokens_col_name, term)
    )


def _stage_pin(cond):
    """Keep an expensive row predicate in the stage where it is written:
    OR-ing an always-false NON-DETERMINISTIC term (monotonically_
    increasing_id() is never < -1) stops PushDownPredicates from sinking
    the filter below a repartition, without changing its value (X OR
    false ≡ X, including the NULL row-drop case). Why it matters: the
    sandbox's corpora are single parquet files, so a predicate pushed
    below the spread exchange runs the whole tokenize+match on the scan's
    1-2 input splits — and the pushdown rewrite also substitutes the
    token-array expression into every conjunct, leaving 3-8 copies of the
    tokenizer in the Filter node (match_and at the 10x corpus: 2.19 s
    pushed vs 0.67 s pinned, identical rows). On a pre-split lake the pin
    is placement-neutral: without a repartition the filter already runs
    fused with the scan stage, and these array predicates are never
    parquet-pushable, so no source-level pruning is lost."""
    return cond | (F.monotonically_increasing_id() < F.lit(-1))


def _all_terms_present(terms: list[str]):
    """In-row conjunction: every distinct term present in `tokens`.
    Duplicate terms keep the group-filter contract (nt counted DISTINCT
    matched terms, so nt == len(terms) was unsatisfiable) — shared by
    match_all_terms and match_websearch so the subtle rule lives once."""
    cond = None
    for t in dict.fromkeys(terms):
        c = F.array_contains("tokens", t)
        cond = c if cond is None else cond & c
    if len(set(terms)) != len(terms):
        cond = F.lit(False)
    return cond


def bm25_inflight(
    docs: DataFrame,
    query: str,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    stem: bool = False,
    mode: str = "and",
) -> DataFrame:
    """Conjunctive BM25 top-k as one lazy plan: returns
    (rnk int, docid long, score_r double[rounded 1e-6]).
    `mode='or'` switches to disjunctive union-presence scoring (a doc
    scores over the query terms it contains, no all-present filter) —
    the candidate generator for the rerank stage.

    Plan shape (round-7 rewrite, guide §2.4 "remove shuffles outright"):
    the query terms are LITERALS, so per-term tf is an in-row
    size(filter(tokens, = t)) — no explode, no (docid, term) hash
    aggregate, no exchange. Global stats (n_docs, Σdoclen, per-term df)
    ride ONE scalar aggregate over the same token arrays, broadcast back
    via crossJoin; the only remaining exchanges are the top-k merge
    (TakeOrderedAndProject) and the k-row rank window. The previous
    explode+groupBy formulation shuffled the full (docid, term) tf table
    three times (stats subtree, df subtree, probe subtree) for bit-equal
    results — plan diff in plans/r07/bm25_single_{before,after}.txt.

    Float identity with the old plan and the DuckDB oracle: per-doc
    contributions are summed in lexicographic term order (uterms is
    sorted), absent terms contribute literal 0.0 (x + 0.0 == x exactly for
    the strictly-positive BM25 parts), and df/n_docs/avgdl are the same
    exact integers and double division.

    `stem=True` Porter-stems both the corpus token stream and the query
    (reference T8/T9: Postgres stems tsvector AND tsquery with the same
    stemmer, so 'running' matches documents containing 'run').
    """
    spark = docs.sparkSession
    if stem:
        from honeywell_search_engine_spark.functions.analyzer import (
            analyze_query_stemmed,
        )

        terms = analyze_query_stemmed(query)
    else:
        terms = analyze_query(query)
    empty = spark.createDataFrame([], "rnk int, docid long, score_r double")
    if not terms:
        return empty
    n_terms = len(terms)
    # distinct terms in lexicographic order — the summation-order contract
    # (the old plan's sort_array(collect_list(struct(term, part))))
    uterms = sorted(set(terms))

    toks = doc_tokens(docs, id_col, text_col, stem=stem)
    base = toks.select(
        "docid",
        "doclen",
        *[_inrow_tf("tokens", t).alias(f"_tf{j}") for j, t in enumerate(uterms)],
    )
    # ONE corpus pass for every global stat: doc count, total tokens
    # (== sum(tf) over the old tf table — zero-token docs contribute 0
    # either way), and per-term df (docs with tf > 0, the old
    # groupBy(term).count as the same exact integer)
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        # greatest(doclen, 0): identical for every real document (doclen
        # >= 0) while pinning the NULL-text edge in BOTH ANSI modes —
        # size(NULL) is -1 under legacy sizeOfNull and NULL under ANSI;
        # either must contribute 0 like the old sum(tf) formulation did
        F.sum(F.greatest(F.col("doclen"), F.lit(0))).alias("_total"),
        *[
            F.sum(
                F.when(F.col(f"_tf{j}") > 0, F.lit(1)).otherwise(F.lit(0))
            ).alias(f"_df{j}")
            for j in range(len(uterms))
        ],
    ).select(
        "n_docs",
        (F.col("_total").cast("double") / F.col("n_docs")).alias("avgdl"),
        *[F.col(f"_df{j}") for j in range(len(uterms))],
    )
    nt = None
    for j in range(len(uterms)):
        p = F.when(F.col(f"_tf{j}") > 0, 1).otherwise(0)
        nt = p if nt is None else nt + p
    cand = base.filter(_stage_pin(nt == n_terms if mode == "and" else nt >= 1))
    score = None
    for j in range(len(uterms)):
        idf = idf_col(F.col(f"_df{j}"), F.col("n_docs").cast("double"))
        tfd = F.col(f"_tf{j}").cast("double")
        part = idf * (
            tfd
            * F.lit(K1 + 1.0)
            / (
                tfd
                + F.lit(K1)
                * (
                    F.lit(1.0 - B)
                    + F.lit(B) * F.col("doclen").cast("double") / F.col("avgdl")
                )
            )
        )
        contrib = F.when(F.col(f"_tf{j}") > 0, part).otherwise(F.lit(0.0))
        score = contrib if score is None else score + contrib
    scored = cand.crossJoin(F.broadcast(stats)).select(
        "docid", score.alias("score")
    )
    topk = scored.orderBy(F.desc("score"), F.asc("docid")).limit(k)
    w = Window.orderBy(F.desc("score"), F.asc("docid"))
    return topk.select(
        F.row_number().over(w).alias("rnk"),
        F.col("docid").cast("long").alias("docid"),
        F.round("score", 6).alias("score_r"),
    )


def match_all_terms(
    docs: DataFrame, query: str, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """F4 semantics (websearch_to_tsquery AND): docids containing every
    query term, ascending. Posting-list intersection via group-filter."""
    spark = docs.sparkSession
    terms = analyze_query(query)
    if not terms:
        return spark.createDataFrame([], "docid long")
    # literal terms -> in-row conjunction of array_contains: no explode, no
    # (docid, term) aggregate, no exchange (r7; the old group-filter
    # formulation shuffled the query-term tf rows for the same result set)
    return (
        doc_tokens(docs, id_col, text_col)
        .filter(_stage_pin(_all_terms_present(terms)))
        .select(F.col("docid").cast("long"))
        .orderBy("docid")
    )


def match_websearch(
    docs: DataFrame, query: str, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Full websearch_to_tsquery semantics incl. '-term' negation
    (reference fusion.py:42): docids containing every unprefixed term and
    NONE of the '-'-prefixed ones, ascending. The exclusion is a left-anti
    join against the negated terms' posting rows — one extra shuffle-free
    pass over the same tf table; a required term that is also negated is a
    contradiction (empty)."""
    from honeywell_search_engine_spark.functions.analyzer import parse_websearch

    spark = docs.sparkSession
    pos, neg = parse_websearch(query)
    if not pos or set(pos) & set(neg):
        return spark.createDataFrame([], "docid long")
    # in-row conjunction + negation (r7): all positive terms present, no
    # negated term present — one pass over the token array per doc, no
    # explode/aggregate/anti-join exchanges. Same result set as the old
    # tf group-filter + left-anti formulation.
    cond = _all_terms_present(pos)
    for t in dict.fromkeys(neg):
        cond = cond & ~F.array_contains("tokens", t)
    return (
        doc_tokens(docs, id_col, text_col)
        .filter(_stage_pin(cond))
        .select(F.col("docid").cast("long"))
        .orderBy("docid")
    )


def match_any_terms(
    docs: DataFrame, query: str, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """F5 semantics (triple-match OR): docids containing any query term,
    with how many distinct query terms matched (docid asc)."""
    spark = docs.sparkSession
    terms = analyze_query(query)
    if not terms:
        return spark.createDataFrame([], "docid long, n_matched long")
    # in-row distinct-presence count (r7): n_matched = how many DISTINCT
    # query terms the doc contains — identical to the old tf group-count
    # (rows were per distinct (docid, term)), without the explode/shuffle.
    nm = None
    for t in dict.fromkeys(terms):
        p = F.when(F.array_contains("tokens", t), 1).otherwise(0)
        nm = p if nm is None else nm + p
    return (
        doc_tokens(docs, id_col, text_col)
        .withColumn("n_matched", nm.cast("long"))
        .filter(_stage_pin(F.col("n_matched") > 0))
        .select(F.col("docid").cast("long"), "n_matched")
        .orderBy("docid")
    )


def _phrase_occ(toks, terms: list[str]):
    """Column expression: number of start offsets where `terms` occur at
    consecutive positions of the token array `toks`. Pure codegen —
    sequence(0, x) DESCENDS for x<0, so short docs are guarded
    explicitly."""
    m = len(terms)
    starts = F.when(
        F.size(toks) >= m, F.sequence(F.lit(0), F.size(toks) - m)
    ).otherwise(F.array().cast("array<int>"))

    def hit(i):
        cond = None
        for j, t in enumerate(terms):
            c = F.element_at(toks, i + j + 1) == F.lit(t)  # element_at is 1-based
            cond = c if cond is None else cond & c
        return cond

    return F.size(F.filter(starts, hit))


def match_websearch_or(
    docs: DataFrame, query: str, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """FULL websearch_to_tsquery surface, in-flight (no index): the
    standalone 'or' keyword joins conjunctive groups disjunctively (AND
    binds tighter — Postgres turns bare 'or' into ``|``), '"quoted"'
    phrases must occur adjacently, '-term' excludes, '-"quoted"' excludes
    docs containing the phrase adjacently. Returns docids matching ANY
    group, ascending.

    Pure whole-stage-codegen single pass: each group becomes one boolean
    predicate over the doc's token array (array_contains membership +
    guarded phrase-start scans), OR-ed together — NO shuffle, NO tf
    table, so at 100 TB this is a straight filter pushed through the
    scan."""
    from honeywell_search_engine_spark.functions.analyzer import (
        parse_websearch_query,
    )

    spark = docs.sparkSession
    groups = parse_websearch_query(query)
    if not groups:
        return spark.createDataFrame([], "docid long")
    toks = tokens_col(text_col)
    pred = None
    for all_pos, neg, phrases, neg_phrases in groups:
        conds = [F.array_contains(toks, t) for t in all_pos]
        conds += [~F.array_contains(toks, t) for t in neg]
        conds += [_phrase_occ(toks, ph) > 0 for ph in phrases]
        conds += [_phrase_occ(toks, ph) == 0 for ph in neg_phrases]
        g = conds[0]
        for c in conds[1:]:
            g = g & c
        pred = g if pred is None else pred | g
    return (
        docs.filter(_stage_pin(pred))
        .select(F.col(id_col).cast("long").alias("docid"))
        .orderBy("docid")
    )


def match_phrase(
    docs: DataFrame, phrase: str, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Phrase match over the filtered token stream: docids where the
    phrase's tokens (tokenize() order, repeats kept — NOT analyze_query's
    sorted dedup) occur at consecutive positions, plus the occurrence
    count. Postgres phraseto_tsquery `<->` semantics after stopword
    removal (reference tsvector keeps positions, migrations/003:32).
    Pure codegen: a guarded sequence of start offsets filtered by an
    all-terms-match predicate — no Python, no shuffle.
    Returns (docid long, n_occ int), docid asc."""
    from honeywell_search_engine_spark.functions.analyzer import tokenize

    spark = docs.sparkSession
    terms = tokenize(phrase)
    if not terms:
        return spark.createDataFrame([], "docid long, n_occ int")
    n_occ = _phrase_occ(tokens_col(text_col), terms)
    return (
        docs.select(
            F.col(id_col).cast("long").alias("docid"), n_occ.alias("n_occ")
        )
        .filter(_stage_pin(F.col("n_occ") > 0))
        .orderBy("docid")
    )


def match_near(
    docs: DataFrame,
    query: str,
    slop: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Ordered proximity match: docids where the query's tokens appear in
    order within a window of (m-1)+slop filtered-token positions
    (q_0 < q_1 < ... < q_{m-1}, q_{m-1} - q_0 <= (m-1)+slop). slop=0
    degenerates to match_phrase. Counts qualifying start positions.
    Pure codegen: per-term position arrays + a nested-exists chain.
    Returns (docid long, n_starts int), docid asc."""
    from honeywell_search_engine_spark.functions.analyzer import tokenize

    spark = docs.sparkSession
    terms = tokenize(query)
    if not terms:
        return spark.createDataFrame([], "docid long, n_starts int")
    m = len(terms)
    span = m - 1 + slop
    toks = tokens_col(text_col)
    idxs = F.when(
        F.size(toks) >= 1, F.sequence(F.lit(0), F.size(toks) - 1)
    ).otherwise(F.array().cast("array<int>"))

    def positions_of(t):
        return F.filter(idxs, lambda i: F.element_at(toks, i + 1) == F.lit(t))

    plists = [positions_of(t) for t in terms]

    def chain(j, prev, p0):
        # exists q_j in P_j with q_j > q_{j-1}, recursing to the last term,
        # where the span bound against q_0 closes the window
        if j == m:
            return prev - p0 <= F.lit(span)
        return F.exists(
            plists[j], lambda q: (q > prev) & chain(j + 1, q, p0)
        )

    if m == 1:
        n_starts = F.size(plists[0])
    else:
        n_starts = F.size(
            F.filter(plists[0], lambda p0: chain(1, p0, p0))
        )
    return (
        docs.select(
            F.col(id_col).cast("long").alias("docid"), n_starts.alias("n_starts")
        )
        .filter(_stage_pin(F.col("n_starts") > 0))
        .orderBy("docid")
    )


def match_near_unordered(
    docs: DataFrame,
    query: str,
    dist: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """UNORDERED two-term proximity (the classic `A NEAR/k B`, Lucene/FTS
    default semantics): docids where the two query tokens occur within
    `dist` filtered-token positions of each other IN EITHER ORDER.
    n_hits counts positions of the FIRST term with a partner of the second
    within range (deterministic, mirrors the ordered operator's start
    counting). Exactly two distinct analyzed tokens required — multi-term
    unordered coverage is a window-cover problem with different semantics;
    the ordered chain (match_near) handles m terms.
    Pure codegen: per-term position arrays + one exists per position.
    Returns (docid long, n_hits int), docid asc."""
    from honeywell_search_engine_spark.functions.analyzer import tokenize

    spark = docs.sparkSession
    terms = tokenize(query)
    if len(terms) != 2 or terms[0] == terms[1]:
        raise ValueError(
            "match_near_unordered is the two-distinct-term NEAR operator; "
            f"got {terms!r} (use match_near for ordered multi-term slop)"
        )
    ta, tb = terms
    toks = tokens_col(text_col)
    idxs = F.when(
        F.size(toks) >= 1, F.sequence(F.lit(0), F.size(toks) - 1)
    ).otherwise(F.array().cast("array<int>"))

    def positions_of(t):
        return F.filter(idxs, lambda i: F.element_at(toks, i + 1) == F.lit(t))

    pa, pb = positions_of(ta), positions_of(tb)
    n_hits = F.size(
        F.filter(
            pa,
            lambda p: F.exists(
                pb, lambda q: F.abs(q - p) <= F.lit(dist)
            ),
        )
    )
    return (
        docs.select(
            F.col(id_col).cast("long").alias("docid"), n_hits.alias("n_hits")
        )
        .filter(F.col("n_hits") > 0)
        .orderBy("docid")
    )


def bm25_near_unordered_inflight(
    docs: DataFrame,
    query: str,
    dist: int = 3,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Ranked unordered two-term NEAR, index-free (the gate-facing sibling
    of query/wand.bm25_topk_near_unordered): docs where the two analyzed
    terms occur within `dist` positions in either order, ranked by
    two-term conjunctive BM25. Composition: the match_near_unordered
    proximity set (broadcast — it is at most the smaller term's df)
    semi-joins the conjunctive BM25 ranking; global corpus stats.
    Returns (rnk int, docid long, score_r double). Two tokenize passes
    (match + tf) — fine for a correctness gate; the production ranked
    path is the single-pass segment kernel."""
    from honeywell_search_engine_spark.functions.analyzer import tokenize

    terms = tokenize(query)
    if len(terms) != 2 or terms[0] == terms[1]:
        raise ValueError(
            f"bm25_near_unordered_inflight needs two distinct terms; got {terms!r}"
        )
    prox = match_near_unordered(docs, query, dist, id_col, text_col).select("docid")
    ranked = bm25_inflight(docs, " ".join(terms), 2**31 - 1, id_col, text_col)
    w = Window.orderBy(F.desc("score_r"), F.asc("docid"))
    return (
        ranked.join(F.broadcast(prox), "docid", "left_semi")
        .select(
            F.row_number().over(w).alias("rnk"),
            "docid",
            "score_r",
        )
        .orderBy("rnk")
        .limit(k)
    )


def term_stats_table(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", top: int = 100
) -> DataFrame:
    """(term, df, ctf) for the `top` most frequent terms (A8 analog)."""
    tf = doc_term_freqs(docs, id_col, text_col)
    return (
        tf.groupBy("term")
        .agg(F.count("*").alias("df"), F.sum("tf").alias("ctf"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(top)
    )


def corpus_stats_row(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(n_docs, total_tokens, avgdl rounded) — A7 doclen/avgdl aggregate."""
    tok = doc_tokens(docs, id_col, text_col)
    return tok.agg(
        F.count("*").alias("n_docs"),
        F.sum("doclen").alias("total_tokens"),
        F.round(F.avg("doclen"), 6).alias("avgdl_r"),
    )


def token_overlap_score(
    docs: DataFrame, query: str, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """R2: the reference's lexical step score (search.py:47-59):
    overlap = |tokens(text) ∩ tokens(query)| / |tokens(query)|, mapped to
    {1.0 if >=0.9, 0.7 if >=0.75, 0.5 if >=0.5, else 0.0}.
    Returns (docid, overlap_r, step_score)."""
    spark = docs.sparkSession
    qts = analyze_query(query)
    if not qts:
        return spark.createDataFrame([], "docid long, overlap_r double, step_score double")
    toks = F.array_distinct(tokens_col(text_col))
    n_hit = F.size(F.array_intersect(toks, F.array(*[F.lit(t) for t in qts])))
    overlap = n_hit.cast("double") / F.lit(float(len(qts)))
    step = (
        F.when(overlap >= 0.9, F.lit(1.0))
        .when(overlap >= 0.75, F.lit(0.7))
        .when(overlap >= 0.5, F.lit(0.5))
        .otherwise(F.lit(0.0))
    )
    return docs.select(
        F.col(id_col).cast("long").alias("docid"),
        F.round(overlap, 6).alias("overlap_r"),
        step.alias("step_score"),
    ).orderBy("docid")


def highlight_terms(
    docs: DataFrame, query: str, id_col: str = "doc_id", text_col: str = "text",
    cap: int = 8,
) -> DataFrame:
    """R9: highlight tokens = tokens(snippet) ∩ tokens(query), capped at 8
    (reference search.py:165). Deterministically sorted before the cap
    (the reference's set-order is nondeterministic — documented fix,
    SURVEY.md §2.7 T4). Returns (docid, highlights array<string>)."""
    spark = docs.sparkSession
    qts = analyze_query(query)
    if not qts:
        return spark.createDataFrame([], "docid long, highlights array<string>")
    toks = F.array_distinct(tokens_col(text_col))
    inter = F.slice(
        F.array_sort(F.array_intersect(toks, F.array(*[F.lit(t) for t in qts]))),
        1,
        cap,
    )
    return docs.select(
        F.col(id_col).cast("long").alias("docid"), inter.alias("highlights")
    ).orderBy("docid")


def naive_triples(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", cap: int = 3
) -> DataFrame:
    """N2: the reference's fallback OpenIE — first `cap` sentences each
    yield (first word, second word, rest) if >= 3 words (reference
    tasks.py:147-155). Sentence boundary is `[.!?]+\\s+` — the reference's
    lookbehind variant is not RE2-expressible, so the engine AND the SQL
    oracle share this delimiter-consuming split (documented deviation).
    Returns (docid, sent_idx, subj, pred, obj)."""
    sents = F.slice(
        F.filter(
            F.transform(
                F.split(F.col(text_col), r"[.!?]+\s+"),
                lambda s: F.trim(s),
            ),
            lambda s: F.length(s) > 0,
        ),
        1,
        cap,
    )
    exploded = docs.select(
        F.col(id_col).cast("long").alias("docid"),
        F.posexplode(sents).alias("sent_idx", "sent"),
    )
    words = F.split(F.col("sent"), r"\s+")
    return (
        exploded.withColumn("w", words)
        .filter(F.size("w") >= 3)
        .select(
            "docid",
            "sent_idx",
            F.col("w")[0].alias("subj"),
            F.col("w")[1].alias("pred"),
            F.concat_ws(" ", F.slice("w", 3, 100000)).alias("obj"),
        )
        .orderBy("docid", "sent_idx")
    )
