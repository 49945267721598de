"""BM25 top-k — relational formulation (pure built-in ops, codegen'd).

The reference delegates ranked retrieval to Elasticsearch (README.md:5,
output/elasticsearch.py:33); this module owns it.  Scoring is classic
Lucene/ES BM25 (disjunctive, "should"-style):

    idf(t)     = ln(1 + (N - df + 0.5) / (df + 0.5))
    w(t, d)    = idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b * |d|/avgdl))
    score(q,d) = sum over matched query terms

with k1 = 1.2, b = 0.75, N and avgdl over the *whole* corpus (zero-token
docs included).  Ties broken by doc_id ascending; scores rounded to 5
decimals BEFORE ordering so Spark/DuckDB float-sum-order noise can never
flip rank (SURVEY.md §7.4).

This relational path is the *vectorized baseline*: tokenize -> explode ->
filter to query terms (pushed below the shuffle) -> one hash agg for tf ->
broadcast joins for df/stats -> top-k.  The compressed-index WAND path
(query/wand.py) must be rank-identical to it.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..corpus import CORPUS_CTE
from ..functions.tokenizer import DOC_LEN_SQL, TOKEN_SPLIT_RE, tokens

K1 = 1.2
B = 0.75

#: projections persisted by previous relational queries, awaiting
#: retirement.  A query's cached projection must outlive the call (the
#: returned DataFrame reads it), so each call enqueues its own and
#: retires its predecessors'.
_live_rows: list = []


def _reused_projection(df):
    """Materialize a per-query projection that two passes share (stats
    aggregate + scoring scan) WITHOUT leaking storage.

    persist() gives the columnar in-memory cache (fastest re-scan), but
    SQL caches are not GC-tracked — without retirement every query leaked
    one cached projection for the session's lifetime (ADVICE r5).  The
    predecessors' unpersist runs on a daemon thread because the
    CacheManager work measured ~0.35 s synchronously ON the query path
    (~2x query latency); off-path it overlaps the next query's scan.
    Unpersisting only ever drops cached blocks — a late consumer of an
    old result recomputes, never errs.  (localCheckpoint was measured as
    the alternative: GC-tracked cleanup for free, but its row-format
    blocks lose the columnar cache and cost more than they save.)"""
    import threading

    stale = _live_rows[:]
    del _live_rows[: len(stale)]
    if stale:
        def _drop():
            for old in stale:
                try:
                    old.unpersist(False)
                except Exception:
                    pass

        threading.Thread(target=_drop, daemon=True).start()
    rows = df.persist()
    _live_rows.append(rows)
    return rows
SCORE_DECIMALS = 5
# Pruning-threshold slack: final ranking rounds scores to SCORE_DECIMALS and
# breaks ties by doc_id asc, so any pruning decision made on *raw* scores
# must keep candidates whose raw score is within one rounding step of the
# current k-th score (they may round equal and win the tie).  1.1x the max
# rounding gap (0.5 * 10^-d) with margin.
ROUND_GUARD = 1.1 * 10 ** (-SCORE_DECIMALS)


#: the tie band: a doc whose score trails the k-th by more than this
#: rounds strictly below k others and can never win a place (scaled by
#: 1/idf_lb when the idf is applied after the cut).
TIE_BAND = 2.0 * 10.0 ** (-SCORE_DECIMALS) + ROUND_GUARD


def idf_col(n: F.Column, df: F.Column) -> F.Column:
    return F.log(F.lit(1.0) + (n - df + 0.5) / (df + 0.5))


def idf(n, df):
    """numpy form of idf_col (scalars or arrays, same float order)."""
    return np.log(1.0 + (n - df + 0.5) / (df + 0.5))


def bm25_weight(tf, dl, avgdl, idf):
    """w(t, d) over Columns or numpy arrays alike — one expression, so
    every path sums the same float operations in the same order."""
    return idf * tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))


def tf_saturation(tf, dl, avgdl):
    """The idf-free factor of w(t, d).  Callers that apply the idf AFTER
    it (idf * tf_saturation: pseudo-terms, synonym groups, terms_set) get
    a different last-ulp float order than bm25_weight, so both forms
    exist; SCORE_DECIMALS rounding absorbs the difference."""
    return tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))


def upper_bound(idf, max_tf):
    """w's dl -> 0 limit: monotone in tf, so a term's (or a block's) max
    tf bounds every weight it can contribute — the MaxScore / block-max
    bound."""
    return idf * max_tf * (K1 + 1.0) / (max_tf + K1 * (1.0 - B))


class QuerySpec(NamedTuple):
    """A normalised term query: distinct sorted terms, the matched-term
    bar (conjunctive is the bar = |terms| case) and the distinct sorted
    must_not terms."""

    terms: list[str]
    require_all: int
    exclude: list[str]


def query_spec(
    terms: list[str],
    conjunctive: bool = False,
    min_should_match: int = 0,
    exclude_terms: list[str] | None = None,
) -> QuerySpec:
    """The one query normaliser every top-k entry point builds through:
    a repeated query term counts once (ES match semantics)."""
    if conjunctive and min_should_match:
        raise ValueError(
            "conjunctive IS min_should_match=len(terms); pass only one"
        )
    uniq = sorted(set(terms))
    return QuerySpec(
        uniq,
        len(uniq) if conjunctive else int(min_should_match or 0),
        sorted(set(exclude_terms or [])),
    )


def bm25_topk(
    corpus: DataFrame,
    terms: list[str],
    k: int | None = 10,
    lang: str | None = None,
    min_ts: str | None = None,
    max_ts: str | None = None,
    global_stats: bool = False,
    conjunctive: bool = False,
    min_should_match: int = 0,
    exclude_terms: list[str] | None = None,
) -> DataFrame:
    """Top-k (doc_id, url, score) for a term query — disjunctive (ES
    "should", default) or conjunctive ("must": only docs containing every
    query term are scored; scores are the same BM25 sums).
    `min_should_match=m` keeps docs matching >= m distinct query terms
    (conjunctive is the m = |terms| case).  `exclude_terms` is ES bool
    `must_not`: docs containing any excluded term are dropped pre-top-k in
    FILTER CONTEXT — exclusion never changes N/avgdl/df, exactly like the
    compressed-index path (wand_topk) and ES itself.

    Document-level filters (lang / warc_ts window — the analogues of the
    reference's search filters, poc/src/api/routes/search.py:87-103 and the
    periodic_import window, telegram2elastic.py:555-558) restrict the corpus
    BEFORE scoring.  Two statistics regimes:
      * global_stats=False (default): N/avgdl/df are filtered-set stats —
        the standalone-query semantics;
      * global_stats=True: corpus-level stats, filters only restrict which
        docs are scored — Elasticsearch's filter-context semantics (filters
        never change idf), and what the compressed-index path implements
        (recomputing df per arbitrary filter would re-scan postings).
    """
    base = corpus
    if lang is not None:
        base = base.filter(F.col("lang") == lang)
    if min_ts is not None:
        base = base.filter(F.col("warc_ts") >= F.lit(min_ts).cast("timestamp"))
    if max_ts is not None:
        base = base.filter(F.col("warc_ts") < F.lit(max_ts).cast("timestamp"))

    # --- tokenize-once plan (r4, session 15) -------------------------------
    # The original formulation built three subtrees off the raw corpus
    # (doc_len, stats, tf-explode) and one more for exclusion; Catalyst has
    # no cross-subtree CSE, so the corpus was tokenized 3-4x PER QUERY.
    # Now one narrow projection carries (doc_id, url, dl, per-term tf,
    # exclusion flag) — per-term tf is an array-side size(filter(tk, =t))
    # (query terms are a handful, so t cheap passes over a token array
    # beat an explode + (doc, term) hash agg + three joins).  The stats
    # aggregate rides the same pass as a CollectMetrics observation and
    # only the CANDIDATE rows are persisted (r6) — one tokenization per
    # query, ~100 B per matching doc cached; at index scale the WAND
    # path serves queries, this relational path is the verification
    # baseline.  Scores are bit-compatible: same per-term weight formula,
    # same round-then-order contract (sum order changes only the last ulp,
    # absorbed by SCORE_DECIMALS rounding exactly as before).
    spec = query_spec(terms, conjunctive, min_should_match, exclude_terms)
    uniq = spec.terms
    stats_src = corpus if global_stats else base
    doc_filters = (lang is not None) or (min_ts is not None) or (max_ts is not None)
    admit = F.lit(True)
    if global_stats and doc_filters:
        if lang is not None:
            admit = admit & (F.col("lang") == lang)
        if min_ts is not None:
            admit = admit & (F.col("warc_ts") >= F.lit(min_ts).cast("timestamp"))
        if max_ts is not None:
            admit = admit & (F.col("warc_ts") < F.lit(max_ts).cast("timestamp"))

    tk_rows = stats_src.withColumn("_tk", tokens("text"))
    proj = [
        F.col("doc_id"),
        F.col("url"),
        admit.alias("_admit"),
        F.size("_tk").alias("dl"),
    ]
    for i, t in enumerate(uniq):
        proj.append(
            F.size(F.filter("_tk", lambda x: x == F.lit(t))).alias(f"tf_{i}")
        )
    excl = spec.exclude
    if excl:
        proj.append(
            F.arrays_overlap(
                "_tk", F.array(*[F.lit(t) for t in excl])
            ).alias("_ex_hit")
        )
    rows = tk_rows.select(*proj)

    stats_aggs = [
        F.count(F.lit(1)).alias("n"),
        F.avg("dl").alias("avgdl"),
    ] + [
        F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
        for i in range(len(uniq))
    ]
    # The (n, avgdl, df_i) statistics row is computed as a CollectMetrics
    # side effect (df.observe) of the SAME pass that materializes the
    # candidates-only cache below — one full tokenize scan per query, no
    # separate stats aggregate job, no agg exchange (r6 probe: 4q
    # 2.09 -> 1.65 s vs the persist-all+agg formulation).  The stats sit
    # ABOVE the candidate filter, so exclusion/admission never change
    # N/avgdl/df (filter-context contract).  Every stat is an
    # order-insensitive integer aggregate (counts; avg = long sum /
    # count in one final division), so partial-aggregation order cannot
    # change a bit, and the values are injected as double LITERALS
    # instead of crossJoin(broadcast(stats)) — the broadcast subtree
    # cost 3 extra AQE stage-jobs per query (measured 5 jobs -> 2).
    # All scoring arithmetic stays in Spark expressions over the same
    # double values (py4j round-trips IEEE doubles exactly), so scores
    # are bit-identical to the joined formulation.
    from pyspark.sql import Observation

    obs = Observation()
    rows = rows.observe(obs, *stats_aggs)

    matched = [F.col(f"tf_{i}") > 0 for i in range(len(uniq))]
    any_match = matched[0] if matched else F.lit(False)
    for m in matched[1:]:
        any_match = any_match | m
    cand = rows.filter(F.col("_admit") & any_match)
    if excl:
        cand = cand.filter(~F.col("_ex_hit"))
    # Persist ONLY the candidates (any_match rows) — the stats pass needs
    # every doc, but it rides the observe node; the scoring pass below
    # and bm25_scores consumers only ever read matching docs.  The noop
    # write is the one materializing action: it fills the cache and
    # completes the observation.
    cand = _reused_projection(cand)
    cand.write.format("noop").mode("overwrite").save()
    srow = obs.get

    def _num_lit(v) -> F.Column:
        # empty-corpus aggregates yield NULL (avgdl / df_i) — preserve it
        return (
            F.lit(None).cast("double") if v is None else F.lit(float(v))
        )

    n_lit = _num_lit(srow["n"])
    avgdl_lit = _num_lit(srow["avgdl"])
    df_lits = [_num_lit(srow[f"df_{i}"]) for i in range(len(uniq))]

    w_terms = [
        F.when(
            matched[i],
            bm25_weight(
                F.col(f"tf_{i}").cast("double"),
                F.col("dl").cast("double"),
                avgdl_lit,
                idf_col(n_lit, df_lits[i]),
            ),
        ).otherwise(F.lit(0.0))
        for i in range(len(uniq))
    ]
    score_expr = w_terms[0] if w_terms else F.lit(0.0)
    for w in w_terms[1:]:
        score_expr = score_expr + w
    n_matched_expr = matched[0].cast("int") if matched else F.lit(0)
    for m in matched[1:]:
        n_matched_expr = n_matched_expr + m.cast("int")

    scored = (
        cand.withColumn("score", F.round(score_expr, SCORE_DECIMALS))
        .withColumn("n_matched", n_matched_expr)
    )
    if spec.require_all:
        scored = scored.filter(F.col("n_matched") >= spec.require_all)
    scored = scored.select("doc_id", "url", "score")
    if k is None:
        return scored  # bm25_scores: the untruncated matching set
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def bm25_scores(corpus: DataFrame, terms: list[str]) -> DataFrame:
    """Every matching doc's (doc_id, url, score), UNTRUNCATED — for
    consumers that reduce per key before any top-k (field collapsing)."""
    return bm25_topk(corpus, terms, k=None)


def _sql_quote_terms(terms: list[str]) -> str:
    return ", ".join("'" + t.replace("'", "''") + "'" for t in terms)


def bm25_topk_sql(
    terms: list[str],
    k: int = 10,
    lang: str | None = None,
    min_ts: str | None = None,
    max_ts: str | None = None,
    global_stats: bool = False,
    conjunctive: bool = False,
    min_should_match: int = 0,
    exclude_terms: list[str] | None = None,
    offset: int = 0,
    extra_pred: str | None = None,
    corpus_cte: str | None = None,
) -> str:
    """DuckDB oracle SQL — the exact same semantics over the raw
    `documents` view (derivation via CORPUS_CTE, tokenization via
    TOKENS_CTE with the same regex).  `offset` skips the first rows of
    the ranking — the oracle for cursor (search_after) pagination, whose
    page N is exactly rows [offset, offset+k) of the full order.
    `corpus_cte` swaps the corpus derivation (must still emit a CTE named
    `corpus`) — the analyzed-view seam (e.g. tokenizer.
    stop_analyzed_corpus_cte)."""
    preds = ["1=1"]
    if lang is not None:
        preds.append(f"lang = '{lang}'")
    if min_ts is not None:
        preds.append(f"warc_ts >= TIMESTAMP '{min_ts}'")
    if max_ts is not None:
        preds.append(f"warc_ts < TIMESTAMP '{max_ts}'")
    if extra_pred is not None:
        # generic ANSI predicate (the DSL filter-context carrier); pair
        # with global_stats=True to mirror wand's filter-context scoring
        preds.append(f"({extra_pred})")
    where = " AND ".join(preds)
    terms_sql = _sql_quote_terms(terms)
    stats_rel = "corpus" if global_stats else "fbase"
    n_req = len(set(terms)) if conjunctive else int(min_should_match)
    having = f"HAVING count(*) >= {n_req}" if n_req else ""
    ex_cte, ex_where = "", ""
    if exclude_terms:
        ex_sql = _sql_quote_terms(sorted(set(exclude_terms)))
        ex_cte = (
            ",\nexdocs AS (SELECT DISTINCT doc_id FROM toks "
            f"WHERE term IN ({ex_sql}))"
        )
        ex_where = "WHERE s.doc_id NOT IN (SELECT doc_id FROM exdocs)"
    cte = corpus_cte.strip() if corpus_cte is not None else CORPUS_CTE.strip()
    return f"""
WITH {cte},
fbase AS (SELECT * FROM corpus WHERE {where}),
dl AS (SELECT doc_id, url, {DOC_LEN_SQL} AS doc_len FROM fbase),
sbase AS (SELECT * FROM {stats_rel}),
sdl AS (SELECT doc_id, {DOC_LEN_SQL} AS doc_len FROM sbase),
stats AS (SELECT count(*) AS n, avg(doc_len) AS avgdl FROM sdl),
toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text),
             '{TOKEN_SPLIT_RE}'), t -> t <> '')) AS term
  FROM sbase
),
tf_all AS (
  SELECT doc_id, term, count(*) AS tf FROM toks
  WHERE term IN ({terms_sql}) GROUP BY doc_id, term
),
tdf AS (SELECT term, count(*) AS df FROM tf_all GROUP BY term),
tf AS (
  SELECT tf_all.* FROM tf_all JOIN dl ON tf_all.doc_id = dl.doc_id
),
scored AS (
  SELECT tf.doc_id,
         round(sum(
           ln(1 + (stats.n - tdf.df + 0.5) / (tdf.df + 0.5))
           * tf.tf * ({K1} + 1.0)
           / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / stats.avgdl))
         ), {SCORE_DECIMALS}) AS score
  FROM tf
  JOIN dl ON tf.doc_id = dl.doc_id
  JOIN tdf ON tf.term = tdf.term
  CROSS JOIN stats
  GROUP BY tf.doc_id
  {having}
){ex_cte}
SELECT s.doc_id, d.url, s.score
FROM scored s JOIN dl d ON s.doc_id = d.doc_id
{ex_where}
ORDER BY s.score DESC, s.doc_id ASC
LIMIT {k}{' OFFSET ' + str(int(offset)) if offset else ''}
"""
