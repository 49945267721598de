"""Query-time synonyms — ES `synonym_graph` token filter on a `match`
query, scored with Lucene's SynonymQuery semantics.

When an analyzer injects synonyms at query time, Lucene does NOT score
each variant as its own term (that would over-reward docs that repeat
many variants against rare-variant idfs).  SynonymQuery treats the whole
group as ONE pseudo-term:

    tf_g(d)  = sum over members of tf(member, d)      (blended freq)
    df_g     = max over members of df(member)         (the group's
               document frequency is approximated by its most common
               member — Lucene's documented choice)
    score(d) = sum over groups of idf(df_g) * sat(tf_g, dl)

`synonym_match_topk(index, groups)` runs this from the compressed
index: group idfs are driver-side scalars (|groups| term-dict lookups),
so scores are FULLY doc-local — unlike the phrase/span pseudo-terms
whose df must be measured globally.  That makes per-salt top-k emission
exact with only a rounding guard (no df-inversion band needed): the
per-salt kernel decodes each member's (ids, tf) payload (tf-only, never
positions), merges tf within the group by doc, saturates once, sums
group contributions per doc, and emits its local top-k plus the docs
within ROUND_GUARD + 2 ulp(5dp) of its k-th score (a doc below that can
never enter the rounded global top-k, whatever the other salts hold).

Scale shape: postings pruned to the member terms (partition pruning +
pushed IN), one cogrouped per-salt kernel, O(P * k) post-kernel rows,
k-row broadcast url join — the WAND plan with a different accumulator.

Reference analogue: the ES analyzer configuration surface implied by
the reference's ES index settings (output/elasticsearch.py); synonym
scoring itself is ES-internal machinery, re-expressed Spark-first like
the rest of the query DSL.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..corpus import CORPUS_CTE
from ..functions.tokenizer import DOC_LEN_SQL, TOKEN_SPLIT_RE
from ..index.codec import decode_many
from .bm25 import B, K1, SCORE_DECIMALS, TIE_BAND, _sql_quote_terms, tf_saturation


def _decode_group(groups_pdf: dict, members: list[str]):
    """-> (ids, tf, dl) with tf merged (summed) per doc across members."""
    all_ids, all_tf, all_dl = [], [], []
    for t in members:
        g = groups_pdf.get(t)
        if g is None:
            continue
        ids, tf, dl = decode_many(
            [bytes(x) for x in g["doc_gaps"]],
            [bytes(x) for x in g["tf_bytes"]],
            [bytes(x) for x in g["dl_bytes"]],
            g["n_docs"].to_numpy(),
        )
        all_ids.append(ids.astype(np.int64))
        all_tf.append(tf.astype(np.int64))
        all_dl.append(dl.astype(np.int64))
    if not all_ids:
        e = np.array([], dtype=np.int64)
        return e, e, e
    ids = np.concatenate(all_ids)
    tf = np.concatenate(all_tf)
    dl = np.concatenate(all_dl)
    order = np.argsort(ids, kind="stable")
    ids, tf, dl = ids[order], tf[order], dl[order]
    uniq, starts = np.unique(ids, return_index=True)
    return uniq, np.add.reduceat(tf, starts), dl[starts]


def _group_scores(
    by_term: dict, group_idfs: list[tuple[list[str], float]], avgdl: float
) -> tuple[np.ndarray, np.ndarray]:
    """SynonymQuery scoring of decoded-ready blocks ({term: blocks sorted
    by block_id}): per group, member tfs summed before saturation, times
    the group idf; groups summed per doc in group order.  -> (sorted doc
    ids, unrounded scores)."""
    all_ids, all_contrib = [], []
    for members, idf_g in group_idfs:
        ids, tf, dl = _decode_group(by_term, members)
        if ids.size:
            all_ids.append(ids)
            all_contrib.append(
                idf_g * tf_saturation(
                    tf.astype(np.float64), dl.astype(np.float64), avgdl
                )
            )
    if not all_ids:
        return np.array([], dtype=np.int64), np.array([], dtype=np.float64)
    ids = np.concatenate(all_ids)
    contrib = np.concatenate(all_contrib)
    order = np.argsort(ids, kind="stable")
    ids, contrib = ids[order], contrib[order]
    uniq, starts = np.unique(ids, return_index=True)
    return uniq, np.add.reduceat(contrib, starts)


def _group_idfs(idfs: dict, groups: list[list[str]]) -> list:
    """Live groups with their idf: max member df == min member idf (idf
    is decreasing in df), so no df lookup beyond the member idfs."""
    out = []
    for g in groups:
        live = [t for t in g if t in idfs]
        if live:
            out.append((live, min(idfs[t] for t in live)))
    return out


def synonym_match_topk(
    index: dict, groups: list[list[str]], k: int = 10
) -> DataFrame:
    """Top-k docs for a match query whose terms carry query-time synonym
    groups.  `groups` is a list of synonym groups (a singleton group is
    a plain term); disjunction across groups, SynonymQuery blending
    within a group (module docstring)."""
    from .wand import (
        _EMPTY,
        _collect_idfs,
        _filters_df,
        _postings_for_terms,
        _salt_scored,
        _with_urls,
    )

    spark = index["doc_map"].sparkSession
    empty = spark.createDataFrame([], "doc_id long, url string, score double")
    norm_groups = [sorted({t.lower() for t in g}) for g in groups if g]
    members = sorted({t for g in norm_groups for t in g})
    if not members:
        return empty
    idfs, avgdl = _collect_idfs(index, members)
    group_idfs = _group_idfs(idfs, norm_groups)
    if not group_idfs:
        return empty

    post = _postings_for_terms(index, members)
    if "pos_bytes" in post.columns:
        post = post.drop("pos_bytes")
    def kernel(post_pdf: pd.DataFrame, tomb, _allowed) -> pd.DataFrame:
        if post_pdf.empty:
            return _EMPTY.copy()
        by_term = {
            t: g.sort_values("block_id")
            for t, g in post_pdf.groupby("term", sort=False)
        }
        uniq, score = _group_scores(by_term, group_idfs, avgdl)
        if tomb is not None and tomb.size:
            live = ~np.isin(uniq, tomb)
            uniq, score = uniq[live], score[live]
        if uniq.size > k:
            kth = np.partition(score, uniq.size - k)[uniq.size - k]
            keep = score >= kth - TIE_BAND
            uniq, score = uniq[keep], score[keep]
        return pd.DataFrame({"doc_id": uniq, "score": score})

    local = _salt_scored(
        post, _filters_df(index, None), False, kernel,
        "doc_id long, score double",
    )
    top = (
        local.select(
            "doc_id", F.round(F.col("score"), SCORE_DECIMALS).alias("score")
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(int(k))
    )
    return _with_urls(index, top)


def synonym_match_sql(groups: list[list[str]], k: int = 10) -> str:
    norm_groups = [sorted({t.lower() for t in g}) for g in groups if g]
    members = sorted({t for g in norm_groups for t in g})
    terms_sql = _sql_quote_terms(members)
    group_rows = ", ".join(
        f"({gi}, '{t.replace(chr(39), chr(39) * 2)}')"
        for gi, g in enumerate(norm_groups)
        for t in g
    )
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
gmap(gid, term) AS (VALUES {group_rows}),
tf_m AS (
  SELECT doc_id, term, count(*) AS tf FROM toks
  WHERE term IN ({terms_sql}) GROUP BY doc_id, term
),
df_m AS (SELECT term, count(*) AS df FROM tf_m GROUP BY term),
-- group df = max member df (Lucene SynonymQuery); dead members absent
gdf AS (
  SELECT g.gid, max(d.df) AS df
  FROM gmap g JOIN df_m d ON g.term = d.term
  GROUP BY g.gid
),
-- blended tf: sum member tfs per (doc, group)
gtf AS (
  SELECT t.doc_id, g.gid, sum(t.tf) AS tf
  FROM tf_m t JOIN gmap g ON t.term = g.term
  GROUP BY t.doc_id, g.gid
),
scored AS (
  SELECT gtf.doc_id,
         round(sum(
           ln(1 + (stats.n - gdf.df + 0.5) / (gdf.df + 0.5))
           * gtf.tf * ({K1} + 1.0)
           / (gtf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / stats.avgdl))
         ), {SCORE_DECIMALS}) AS score
  FROM gtf
  JOIN gdf ON gtf.gid = gdf.gid
  JOIN dl ON gtf.doc_id = dl.doc_id
  CROSS JOIN stats
  GROUP BY gtf.doc_id
)
SELECT s.doc_id, d.url, s.score
FROM scored s JOIN dl d ON s.doc_id = d.doc_id
ORDER BY s.score DESC, s.doc_id ASC
LIMIT {int(k)}
"""
