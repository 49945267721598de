"""ES `terms_set` and synonym (`SynonymQuery`) term-group queries over the
compressed posting index.

`terms_set_topk` — ES terms_set: a doc matches when it contains at least
`required(doc)` DISTINCT terms from the candidate list, where the bar is a
per-document numeric field (ES `minimum_should_match_field`) — unlike
bool minimum_should_match, every doc carries its own threshold.  Matching
docs score the ordinary disjunctive BM25 sum over their matched terms
(filter-context semantics: the threshold never changes idf).

`synonym_topk` — Lucene SynonymQuery, what an ES `match` query emits when
the analyzer expands synonyms at the same position: each synonym GROUP is
scored as ONE pseudo-term with

    tf_g(doc) = sum of member-term tfs in doc       (SynonymWeight freq sum)
    df_g      = max of member-term dfs              (SynonymQuery docFreq)
    w_g(doc)  = idf(df_g) * bm25_tf(tf_g, dl)

and the query score is the sum over groups — NOT the sum of member-term
BM25 weights (that would double-count near-duplicate synonyms).

Scale shape (both): postings pruned to the candidate terms (term-bucket
partition pruning + pushed `term IN`), per-salt kernel does ONE pass of
decode + sorted-merge accumulation over the salt's blocks, and emits only
the salt-local top-k by the final rounded key (terms_set additionally
applies the per-doc bar from the cogrouped doc-values slice before
selection).  Each doc lives in exactly one salt and the final key is
computed identically everywhere, so the global merge is an exact
TakeOrdered over P*k rows.  Per-salt work is postings-bounded; nothing
corpus-sized crosses the driver.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..corpus import CORPUS_CTE
from ..functions.tokenizer import DOC_LEN_SQL, TOKEN_SPLIT_RE
from .bm25 import B, K1, SCORE_DECIMALS, idf, tf_saturation

# Default per-doc threshold: the ES minimum_should_match_field, derived
# deterministically so the DuckDB oracle computes the identical bar.
REQUIRED_EXPR = "1 + pmod(doc_id, 3)"
REQUIRED_SQL = "1 + (doc_id % 3)"


def _collect_dfs(index: dict, terms: list[str]) -> tuple[dict, int, float]:
    """(term -> df, N, avgdl) from the same term_dict lookup the idf
    cache uses (query/wand.py _term_dfs)."""
    from .wand import _index_stats, _term_dfs

    dfs = _term_dfs(index, terms)
    n, avgdl = _index_stats(index)
    return dfs, n, avgdl


def terms_set_topk(
    index: dict,
    terms: list[str],
    k: int = 10,
    required_expr: str = REQUIRED_EXPR,
) -> DataFrame:
    """Top-k (doc_id, url, score) among docs matching >= required(doc)
    distinct candidate terms; `required_expr` is any SQL expression over
    doc_map columns (the stored ES minimum_should_match_field)."""
    from .wand import (
        _EMPTY,
        _decode,
        _n_parts,
        _postings_for_terms,
        _select,
        _tomb_df,
        _topk_frame,
        _with_urls,
    )

    spark = index["doc_map"].sparkSession
    dfs, n, avgdl = _collect_dfs(index, sorted(set(terms)))
    empty = spark.createDataFrame([], "doc_id long, url string, score double")
    live = sorted(t for t in set(terms) if t in dfs)
    if not live:
        return empty
    idfs = {t: float(idf(n, dfs[t])) for t in live}

    post = _postings_for_terms(index, live)
    side = index["doc_map"].select(
        "doc_id",
        F.expr(required_expr).cast("long").alias("required"),
        F.lit("h").alias("kind"),
    )
    tomb = _tomb_df(index)
    if tomb is not None:
        side = side.unionByName(
            tomb.select(
                "doc_id",
                F.lit(None).cast("long").alias("required"),
                F.lit("t").alias("kind"),
            )
        )
    side = side.withColumn(
        "salt", F.pmod(F.col("doc_id"), F.lit(_n_parts(index))).cast("int")
    )

    def kernel(post_pdf: pd.DataFrame, side_pdf: pd.DataFrame) -> pd.DataFrame:
        req = side_pdf.loc[side_pdf["kind"] == "h"].set_index("doc_id")
        tomb_ids = np.sort(
            side_pdf.loc[side_pdf["kind"] == "t", "doc_id"].to_numpy(np.int64)
        )
        parts = [
            (g, idfs[t]) for t, g in post_pdf.groupby("term", sort=False)
        ]
        if not parts:
            return _EMPTY.copy()
        ids_w = []
        for g, idf_t in parts:
            ids, tfs, dls = _decode(g.sort_values("block_id"))
            ids_w.append((ids, idf_t * tf_saturation(tfs, dls, avgdl)))
        all_ids = np.concatenate([a for a, _ in ids_w])
        all_w = np.concatenate([w for _, w in ids_w])
        order = np.argsort(all_ids, kind="stable")
        all_ids, all_w = all_ids[order], all_w[order]
        uniq, starts = np.unique(all_ids, return_index=True)
        # the per-doc bar (NaN for a doc without a doc_map row: never met)
        bar = req["required"].reindex(uniq).to_numpy(np.float64)
        return _topk_frame(
            *_select(
                uniq, np.add.reduceat(all_w, starts), k,
                hits=np.diff(np.append(starts, all_ids.size)),
                require_all=bar, tombstones=tomb_ids,
            )
        )

    local = (
        post.groupBy("salt")
        .cogroup(side.groupBy("salt"))
        .applyInPandas(kernel, "doc_id long, score double")
    )
    return _with_urls(
        index, local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    )


def terms_set_sql(
    terms: list[str], k: int = 10, required_sql: str = REQUIRED_SQL
) -> str:
    tl = ", ".join("'" + t.replace("'", "''") + "'" for t in sorted(set(terms)))
    return f"""
WITH {CORPUS_CTE.strip()},
dl AS (SELECT doc_id, url, {DOC_LEN_SQL} AS doc_len FROM corpus),
stats AS (SELECT count(*) AS n, avg(doc_len) AS avgdl FROM dl),
toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text),
             '{TOKEN_SPLIT_RE}'), t -> t <> '')) AS term
  FROM corpus
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks
  WHERE term IN ({tl}) GROUP BY doc_id, term
),
tdf AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, dl.url,
         round(sum(
           ln(1 + (stats.n - tdf.df + 0.5) / (tdf.df + 0.5))
           * tf.tf * ({K1} + 1.0)
           / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / stats.avgdl))
         ), {SCORE_DECIMALS}) AS score,
         count(*) AS hits
  FROM tf
  JOIN dl ON tf.doc_id = dl.doc_id
  JOIN tdf ON tf.term = tdf.term
  CROSS JOIN stats
  GROUP BY tf.doc_id, dl.url
)
SELECT doc_id, url, score
FROM scored
WHERE hits >= ({required_sql})
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def synonym_topk(
    index: dict, groups: list[list[str]], k: int = 10
) -> DataFrame:
    """Top-k (doc_id, url, score) where each synonym group scores as one
    pseudo-term (tf = member sum, df = member max — module docstring) and
    the query score sums the groups."""
    from .synonyms import _group_scores
    from .wand import (
        _filters_df,
        _postings_for_terms,
        _salt_scored,
        _select,
        _topk_frame,
        _with_urls,
    )

    spark = index["doc_map"].sparkSession
    all_terms = sorted({t for g in groups for t in g})
    dfs, n, avgdl = _collect_dfs(index, all_terms)
    empty = spark.createDataFrame([], "doc_id long, url string, score double")
    live_groups = []
    for g in groups:
        members = sorted({t for t in g if t in dfs})
        if members:
            live_groups.append(
                (members, float(idf(n, max(dfs[t] for t in members))))
            )
    if not live_groups:
        return empty
    scan_terms = sorted({t for members, _ in live_groups for t in members})

    def kernel(post_pdf: pd.DataFrame, tomb, _allowed) -> pd.DataFrame:
        by_term = {
            t: g.sort_values("block_id")
            for t, g in post_pdf.groupby("term", sort=False)
        }
        ids, scores = _group_scores(by_term, live_groups, avgdl)
        return _topk_frame(*_select(ids, scores, k, tombstones=tomb))

    local = _salt_scored(
        _postings_for_terms(index, scan_terms), _filters_df(index, None),
        False, kernel, "doc_id long, score double",
    )
    return _with_urls(
        index, local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    )


def synonym_topk_sql(groups: list[list[str]], k: int = 10) -> str:
    all_terms = sorted({t for g in groups for t in g})
    tl = ", ".join("'" + t.replace("'", "''") + "'" for t in all_terms)
    cases = []
    for i, g in enumerate(groups):
        ms = ", ".join("'" + t.replace("'", "''") + "'" for t in sorted(set(g)))
        cases.append(f"WHEN term IN ({ms}) THEN {i}")
    grp_expr = "CASE " + " ".join(cases) + " END"
    return f"""
WITH {CORPUS_CTE.strip()},
dl AS (SELECT doc_id, url, {DOC_LEN_SQL} AS doc_len FROM corpus),
stats AS (SELECT count(*) AS n, avg(doc_len) AS avgdl FROM dl),
toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text),
             '{TOKEN_SPLIT_RE}'), t -> t <> '')) AS term
  FROM corpus
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks
  WHERE term IN ({tl}) GROUP BY doc_id, term
),
tdf AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
-- group df = max df over ALL live members (the SynonymQuery docFreq),
-- independent of which members a particular doc contains
gdf AS (
  SELECT {grp_expr} AS grp, max(df) AS df_g FROM tdf GROUP BY grp
),
-- per (doc, group): tf_g = member tf sum
gtf AS (
  SELECT doc_id, {grp_expr} AS grp, sum(tf) AS tf_g
  FROM tf GROUP BY doc_id, grp
),
scored AS (
  SELECT g.doc_id, dl.url,
         round(sum(
           ln(1 + (stats.n - gdf.df_g + 0.5) / (gdf.df_g + 0.5))
           * g.tf_g * ({K1} + 1.0)
           / (g.tf_g + {K1} * (1.0 - {B} + {B} * dl.doc_len / stats.avgdl))
         ), {SCORE_DECIMALS}) AS score
  FROM gtf g
  JOIN gdf ON g.grp = gdf.grp
  JOIN dl ON g.doc_id = dl.doc_id
  CROSS JOIN stats
  GROUP BY g.doc_id, dl.url
)
SELECT doc_id, url, score
FROM scored
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""
