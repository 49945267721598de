"""more_like_this + rescore — the remaining ES query-DSL staples.

`more_like_this`: ES selects the source document's most "interesting"
terms by tf-idf (MoreLikeThisQuery, capped at max_query_terms) and runs
them as a boolean disjunction, excluding the source doc from the hits.
Here the selection is driver-side (one doc's tokens + a bucket-pruned
term_dict lookup — tiny), the retrieval is the standard WAND disjunction.
Interestingness = tf_in_doc * idf with this engine's BM25 idf, rounded to
6 decimals before ordering (ties: term asc) so the DuckDB oracle selects
the identical term set.

`rescore_recency`: ES `rescore` reranks only the top `window_size` hits
of the base query with a secondary function — here the classic
function_score gauss date decay:

    factor(d) = exp(ln(0.5) * ((warc_ts(d) - origin) / scale)^2)
    rescored  = round(bm25(d) * factor(d), 5)

(decay 0.5 at distance `scale`, offset 0 — ES's gauss parameterization.)
The decay multiplies AFTER retrieval, so WAND's upper bounds stay valid
for the base ranking; only window_size rows are ever joined to warc_ts
(broadcast) and reranked — the ES rescore contract, and the reason this
scales: per-doc multipliers never enter the pruned index scan.
"""

from __future__ import annotations

import math
from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..corpus import CORPUS_CTE
from ..functions.tokenizer import DOC_LEN_SQL, TOKEN_SPLIT_RE, py_tokenize
from .bm25 import SCORE_DECIMALS, idf
from .expand import _expanded_bm25_sql
from .wand import wand_topk

MAX_QUERY_TERMS = 25  # ES MoreLikeThisQuery default


def _interesting_terms(
    index: dict,
    tf: Counter,
    cand: list[str],
    max_query_terms: int,
    min_doc_freq: int,
    dfs: dict[str, int] | None = None,
) -> list[str]:
    """ES MLT term selection: `cand` terms with df >= min_doc_freq by
    round(tf * idf, 6) desc, term asc.  `dfs` defaults to the term_dict
    lookup of the idf cache."""
    from .wand import _index_stats, _term_dfs

    if dfs is None:
        dfs = _term_dfs(index, cand)
    n = _index_stats(index)[0]
    scored = [
        (round(tf[t] * float(idf(n, dfs[t])), 6), t)
        for t in cand
        if dfs.get(t) is not None and dfs[t] >= min_doc_freq
    ]
    scored.sort(key=lambda x: (-x[0], x[1]))
    return [t for _, t in scored[:max_query_terms]]


def select_mlt_terms(
    index: dict,
    corpus: DataFrame,
    doc_id: int,
    max_query_terms: int = MAX_QUERY_TERMS,
    min_term_freq: int = 1,
    min_doc_freq: int = 2,
) -> list[str]:
    """The source doc's top terms by round(tf * idf, 6), term-asc ties."""
    row = corpus.filter(F.col("doc_id") == doc_id).select("text").first()
    if row is None:
        return []
    tf = Counter(py_tokenize(row["text"]))
    cand = sorted(t for t, c in tf.items() if c >= min_term_freq)
    if not cand:
        return []
    return _interesting_terms(index, tf, cand, max_query_terms, min_doc_freq)


def more_like_this(
    index: dict,
    corpus: DataFrame,
    doc_id: int,
    k: int = 10,
    max_query_terms: int = MAX_QUERY_TERMS,
    min_term_freq: int = 1,
    min_doc_freq: int = 2,
) -> DataFrame:
    """Top-k docs most similar to `doc_id` (excluded from the hits)."""
    terms = select_mlt_terms(
        index, corpus, doc_id, max_query_terms, min_term_freq, min_doc_freq
    )
    spark = index["doc_map"].sparkSession
    if not terms:
        return spark.createDataFrame(
            [], "doc_id long, url string, score double"
        )
    hits = wand_topk(index, terms, k=k + 1)
    return (
        hits.filter(F.col("doc_id") != int(doc_id))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def more_like_this_sql(
    doc_id: int,
    k: int = 10,
    max_query_terms: int = MAX_QUERY_TERMS,
    min_term_freq: int = 1,
    min_doc_freq: int = 2,
) -> str:
    """DuckDB oracle: identical term selection (rounded tf*idf, term-asc
    ties) from the source doc, identical BM25 over the selected set,
    source doc excluded."""
    sel = f"""(
  SELECT dtf.term FROM (
    SELECT term, count(*) AS tf FROM (
      SELECT unnest(list_filter(regexp_split_to_array(lower(text),
          '{TOKEN_SPLIT_RE}'), t -> t <> '')) AS term
      FROM corpus WHERE doc_id = {int(doc_id)}
    ) GROUP BY term HAVING count(*) >= {int(min_term_freq)}
  ) dtf
  JOIN (
    SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term
  ) gdf USING (term)
  CROSS JOIN stats
  WHERE gdf.df >= {int(min_doc_freq)}
  ORDER BY round(dtf.tf * ln(1 + (stats.n - gdf.df + 0.5) / (gdf.df + 0.5)), 6)
           DESC, dtf.term ASC
  LIMIT {int(max_query_terms)}
)"""
    base = _expanded_bm25_sql(f"term IN {sel}", k + 1, 10**9)
    # exclude the source doc, re-cap at k.  The final LIMIT is patched via
    # rsplit (LAST occurrence): plain replace would first hit "LIMIT 10"
    # inside the qterms "LIMIT 1000000000" when k = 9.
    base = base.replace(
        "ORDER BY s.score DESC, s.doc_id ASC",
        f"WHERE s.doc_id <> {int(doc_id)}\nORDER BY s.score DESC, s.doc_id ASC",
    )
    head, tail = base.rsplit(f"LIMIT {k + 1}", 1)
    return head + f"LIMIT {k}" + tail


def rescore_recency(
    index: dict,
    terms: list[str],
    k: int = 10,
    window_size: int = 100,
    origin: str = "2022-01-01 00:00:00",
    scale_sec: int = 86400,
) -> DataFrame:
    """(doc_id, url, score, rescored): gauss date-decay rerank of the BM25
    top-`window_size` (ES rescore semantics — the decay never touches the
    pruned index scan)."""
    window = wand_topk(index, terms, k=window_size)
    ts = (
        index["doc_map"]
        .select("doc_id", "warc_ts")
        .join(F.broadcast(window), "doc_id", "inner")
    )
    dist = (
        F.unix_timestamp("warc_ts")
        - F.unix_timestamp(F.lit(origin).cast("timestamp"))
    ) / F.lit(float(scale_sec))
    factor = F.exp(F.lit(math.log(0.5)) * dist * dist)
    return (
        ts.withColumn("rescored", F.round(F.col("score") * factor, SCORE_DECIMALS))
        .select("doc_id", "url", "score", "rescored")
        .orderBy(F.desc("rescored"), F.asc("doc_id"))
        .limit(k)
    )


def rescore_recency_sql(
    terms: list[str],
    k: int = 10,
    window_size: int = 100,
    origin: str = "2022-01-01 00:00:00",
    scale_sec: int = 86400,
) -> str:
    from .bm25 import bm25_topk_sql

    base = bm25_topk_sql(terms, k=window_size)
    return f"""
WITH base AS ({base}),
{CORPUS_CTE.strip()}
SELECT b.doc_id, b.url, b.score,
       round(b.score * exp(ln(0.5) *
         ((epoch(c.warc_ts) - epoch(TIMESTAMP '{origin}')) / {float(scale_sec)})
         * ((epoch(c.warc_ts) - epoch(TIMESTAMP '{origin}')) / {float(scale_sec)})),
         {SCORE_DECIMALS}) AS rescored
FROM base b JOIN corpus c ON b.doc_id = c.doc_id
ORDER BY rescored DESC, b.doc_id ASC
LIMIT {k}
"""


# Default "trained model": linear coefficients over the feature vector
# (bm25, log1p(doc_len), age_hours).  A real deployment would paste the
# coefficients its offline LTR trainer produced; the engine's job —
# feature extraction on the top-window and the windowed rerank — is
# identical either way.
LTR_WEIGHTS = {"bm25": 1.0, "log_dl": 0.25, "age_hours": 0.01}


def ltr_rescore(
    index: dict,
    terms: list[str],
    k: int = 10,
    window_size: int = 100,
    weights: dict[str, float] | None = None,
) -> DataFrame:
    """ES Learning-To-Rank rescorer (8.12 `rescore.learning_to_rank`):
    a trained model re-scores the BM25 top-`window_size` from a feature
    vector; here a linear model over (bm25, log1p(doc_len), age_hours).

    Shape parity with rescore_recency: retrieval is the pruned WAND
    scan; features come from a k-row broadcast join against doc_map
    doc-values (the feature store never sees the corpus); the rerank
    sorts `window_size` rows.  (doc_id, url, score, ltr) ordered by
    (ltr desc, doc_id)."""
    w = weights or LTR_WEIGHTS
    window = wand_topk(index, terms, k=window_size)
    side = (
        index["doc_map"]
        .select("doc_id", "warc_ts", "doc_len")
        .join(F.broadcast(window), "doc_id", "inner")
    )
    age_hours = (
        F.unix_timestamp("warc_ts") - F.lit(1640995200)
    ) / F.lit(3600.0)
    ltr = (
        F.lit(float(w["bm25"])) * F.col("score")
        + F.lit(float(w["log_dl"])) * F.log1p(F.col("doc_len").cast("double"))
        + F.lit(float(w["age_hours"])) * age_hours
    )
    return (
        side.withColumn("ltr", F.round(ltr, SCORE_DECIMALS))
        .select("doc_id", "url", "score", "ltr")
        .orderBy(F.desc("ltr"), F.asc("doc_id"))
        .limit(k)
    )


def ltr_rescore_sql(
    terms: list[str],
    k: int = 10,
    window_size: int = 100,
    weights: dict[str, float] | None = None,
) -> str:
    from ..functions.tokenizer import DOC_LEN_SQL
    from .bm25 import bm25_topk_sql

    w = weights or LTR_WEIGHTS
    base = bm25_topk_sql(terms, k=window_size)
    return f"""
WITH base AS ({base}),
{CORPUS_CTE.strip()},
feat AS (
  SELECT doc_id, epoch(warc_ts) AS ep, {DOC_LEN_SQL} AS doc_len FROM corpus
)
SELECT b.doc_id, b.url, b.score,
       round({float(w["bm25"])!r} * b.score
             + {float(w["log_dl"])!r} * ln(1.0 + f.doc_len)
             + {float(w["age_hours"])!r} * ((f.ep - 1640995200) / 3600.0),
             {SCORE_DECIMALS}) AS ltr
FROM base b JOIN feat f ON b.doc_id = f.doc_id
ORDER BY ltr DESC, b.doc_id ASC
LIMIT {k}
"""


def select_mlt_terms_multi(
    index: dict,
    corpus: DataFrame,
    like: list[int],
    unlike: list[int] | None = None,
    max_query_terms: int = MAX_QUERY_TERMS,
    min_term_freq: int = 1,
    min_doc_freq: int = 2,
) -> list[str]:
    """ES MLT multi-doc term selection: tf sums across ALL `like` docs
    (one merged bag, the Lucene MoreLikeThis contract), and any term
    occurring in an `unlike` doc is skipped outright before scoring
    (ES's unlike = "select terms that are NOT interesting").  Scoring
    and ties are the single-doc contract: round(tf * idf, 6) desc,
    term asc."""
    unlike = [int(u) for u in (unlike or [])]
    like = [int(d) for d in like]
    rows = (
        corpus.filter(F.col("doc_id").isin(like + unlike))
        .select("doc_id", "text")
        .collect()
    )
    texts = {int(r["doc_id"]): r["text"] for r in rows}
    tf: Counter = Counter()
    for d in like:
        if d in texts:
            tf.update(py_tokenize(texts[d]))
    skip: set[str] = set()
    for u in unlike:
        if u in texts:
            skip.update(py_tokenize(texts[u]))
    cand = sorted(
        t for t, c in tf.items() if c >= min_term_freq and t not in skip
    )
    if not cand:
        return []
    return _interesting_terms(index, tf, cand, max_query_terms, min_doc_freq)


def more_like_this_multi(
    index: dict,
    corpus: DataFrame,
    like: list[int],
    unlike: list[int] | None = None,
    k: int = 10,
    max_query_terms: int = MAX_QUERY_TERMS,
    min_term_freq: int = 1,
    min_doc_freq: int = 2,
) -> DataFrame:
    """ES more_like_this with multiple `like` docs and `unlike` docs:
    top-k similar docs, every like doc excluded from the hits (ES
    `include: false` default); unlike docs shape term selection only."""
    terms = select_mlt_terms_multi(
        index, corpus, like, unlike, max_query_terms,
        min_term_freq, min_doc_freq,
    )
    spark = index["doc_map"].sparkSession
    if not terms:
        return spark.createDataFrame(
            [], "doc_id long, url string, score double"
        )
    like_set = [int(d) for d in like]
    hits = wand_topk(index, terms, k=k + len(like_set))
    return (
        hits.filter(~F.col("doc_id").isin(like_set))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def more_like_this_multi_sql(
    like: list[int],
    unlike: list[int] | None = None,
    k: int = 10,
    max_query_terms: int = MAX_QUERY_TERMS,
    min_term_freq: int = 1,
    min_doc_freq: int = 2,
) -> str:
    like = [int(d) for d in like]
    unlike = [int(u) for u in (unlike or [])]
    like_in = ", ".join(str(d) for d in like)
    skip = (
        f"""AND term NOT IN (
      SELECT DISTINCT unnest(list_filter(regexp_split_to_array(lower(text),
          '{TOKEN_SPLIT_RE}'), t -> t <> '')) AS term
      FROM corpus WHERE doc_id IN ({', '.join(str(u) for u in unlike)})
    )"""
        if unlike
        else ""
    )
    sel = f"""(
  SELECT dtf.term FROM (
    SELECT term, count(*) AS tf FROM (
      SELECT unnest(list_filter(regexp_split_to_array(lower(text),
          '{TOKEN_SPLIT_RE}'), t -> t <> '')) AS term
      FROM corpus WHERE doc_id IN ({like_in})
    ) GROUP BY term HAVING count(*) >= {int(min_term_freq)} {skip}
  ) dtf
  JOIN (
    SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term
  ) gdf USING (term)
  CROSS JOIN stats
  WHERE gdf.df >= {int(min_doc_freq)}
  ORDER BY round(dtf.tf * ln(1 + (stats.n - gdf.df + 0.5) / (gdf.df + 0.5)), 6)
           DESC, dtf.term ASC
  LIMIT {int(max_query_terms)}
)"""
    kk = k + len(like)
    base = _expanded_bm25_sql(f"term IN {sel}", kk, 10**9)
    base = base.replace(
        "ORDER BY s.score DESC, s.doc_id ASC",
        f"WHERE s.doc_id NOT IN ({like_in})\n"
        f"ORDER BY s.score DESC, s.doc_id ASC",
    )
    head, tail = base.rsplit(f"LIMIT {kk}", 1)
    return head + f"LIMIT {int(k)}" + tail
