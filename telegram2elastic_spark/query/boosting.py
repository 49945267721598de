"""ES `boosting`, `constant_score` and `distance_feature` queries.

Reference analogue: the poc search API ranks with ES query-DSL clauses
(poc/src/api/routes/search.py); these are the remaining scoring-clause
primitives of that DSL surface.

* `boosting` — positive clause scored as the usual BM25 disjunction;
  docs matching the negative clause keep their positions but their score
  is multiplied by `negative_boost` (demotion, NOT exclusion — the ES
  contrast to bool.must_not).  Demotion can reorder docs across the
  pruning frontier, so the per-salt kernel runs in full-accumulation
  mode (`k=1<<60` disables theta candidate pruning) and demotes before
  the salt-local top-k; the negative ids are decoded ids-only from the
  negative terms' own posting blocks inside the salt (tf/dl stay
  compressed, nothing crosses the kernel boundary) — the must_not
  machinery with a multiply instead of a drop.

* `constant_score` — filter-context disjunction: every doc containing
  any query term scores exactly `boost`.  No weights are ever decoded:
  the kernel reads doc_gaps only, so the scan cost is the compressed id
  stream.  All scores equal => the (score desc, doc_id asc) order is
  doc_id asc; each salt emits its k smallest matching ids and the global
  merge is an exact TakeOrdered over P*k rows.

* `distance_feature` — bool must (BM25) + a distance_feature should
  clause on warc_ts: matching docs gain
  ``boost * pivot / (pivot + |epoch - origin|)`` (the exact ES linear
  decay for date fields).  Additive reranking can promote any matching
  doc, so full accumulation again; the per-doc epoch reaches the kernel
  as a salt-aligned doc-values slice (funcscore's cogroup shape — never
  a driver collect).

Scale: every kernel touches only the query terms' posting blocks
(partition-pruned term buckets + pushed term IN), demotion/boost sets
stay inside their salt, and the global stage is a P*k-row TakeOrdered —
the same 100x-safe shape as wand_topk.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..corpus import CORPUS_CTE
from ..functions.tokenizer import DOC_LEN_SQL, TOKEN_SPLIT_RE
from .bm25 import B, K1, SCORE_DECIMALS
from .wand import (
    _EMPTY,
    _collect_idfs,
    _decode_ids_only,
    _filters_df,
    _live_mask,
    _n_parts,
    _postings_for_terms,
    _salt_scored,
    _score_salt_group,
    _select,
    _split_filters,
    _topk_frame,
    _with_urls,
)

ORIGIN_TS = "2022-01-01 00:00:00"
ORIGIN_EPOCH = 1640995200


def _terms_sql(terms: list[str]) -> str:
    if not terms:
        # empty clause: IN () is a parse error in both engines
        return "''"
    return ", ".join("'" + t.replace("'", "''") + "'" for t in sorted(set(terms)))


def boosting_topk(
    index: dict,
    positive: list[str],
    negative: list[str],
    negative_boost: float = 0.5,
    k: int = 10,
) -> DataFrame:
    """ES `boosting` query: BM25 over `positive`, scores of docs matching
    ANY `negative` term multiplied by `negative_boost`, rounded once."""
    spark = index["doc_map"].sparkSession
    empty = spark.createDataFrame([], "doc_id long, url string, score double")
    pos = sorted(set(positive))
    neg = sorted(set(negative))
    idfs, avgdl = _collect_idfs(index, pos)
    if not idfs:
        return empty
    post = _postings_for_terms(index, sorted(set(idfs) | set(neg)))
    filt = _filters_df(index, None)
    nb = float(negative_boost)

    def kernel(pdf: pd.DataFrame, tomb, allowed) -> pd.DataFrame:
        neg_mask = pdf["term"].isin(neg)
        dem_ids = (
            _decode_ids_only(pdf.loc[neg_mask])
            if neg_mask.any()
            else np.array([], dtype=np.int64)
        )
        # a term can sit in BOTH clauses: keep its postings for scoring
        pdf = pdf.loc[~neg_mask | pdf["term"].isin(pos)]
        scored = _score_salt_group(
            pdf, idfs, float(avgdl), 1 << 60, tombstones=tomb,
            allowed=allowed, raw_scores=True,
        )
        if scored.empty:
            return scored
        raw = scored["score"].to_numpy(np.float64)
        if dem_ids.size:
            hit = np.isin(scored["doc_id"].to_numpy(np.int64), dem_ids)
            raw = np.where(hit, raw * nb, raw)
        return _topk_frame(
            *_select(scored["doc_id"].to_numpy(np.int64), raw, k)
        )

    local = _salt_scored(post, filt, False, kernel, "doc_id long, score double")
    return _with_urls(
        index, local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    )


def boosting_sql(
    positive: list[str],
    negative: list[str],
    negative_boost: float = 0.5,
    k: int = 10,
) -> str:
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
  WHERE term IN ({_terms_sql(positive)}) GROUP BY doc_id, term
),
tdf AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
neg AS (SELECT DISTINCT doc_id FROM toks
        WHERE term IN ({_terms_sql(negative)})),
scored AS (
  SELECT tf.doc_id,
         sum(
           ln(1 + (stats.n - tdf.df + 0.5) / (tdf.df + 0.5))
           * tf.tf * ({K1} + 1.0)
           / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / stats.avgdl))
         ) AS raw
  FROM tf
  JOIN dl ON tf.doc_id = dl.doc_id
  JOIN tdf ON tf.term = tdf.term
  CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT s.doc_id, d.url,
       round(s.raw * CASE WHEN n.doc_id IS NOT NULL
                          THEN {float(negative_boost)!r} ELSE 1.0 END,
             {SCORE_DECIMALS}) AS score
FROM scored s
JOIN dl d ON s.doc_id = d.doc_id
LEFT JOIN neg n ON s.doc_id = n.doc_id
ORDER BY score DESC, s.doc_id ASC
LIMIT {k}
"""


def constant_score_topk(
    index: dict,
    terms: list[str],
    boost: float = 1.2,
    k: int = 10,
    doc_filter: str | None = None,
) -> DataFrame:
    """ES `constant_score`: docs matching ANY term score exactly `boost`.
    ids-only kernel — weights never decoded."""
    spark = index["doc_map"].sparkSession
    empty = spark.createDataFrame([], "doc_id long, url string, score double")
    ts = sorted(set(terms))
    idfs, _ = _collect_idfs(index, ts)
    if not idfs:
        return empty
    post = _postings_for_terms(index, sorted(idfs))
    filt = _filters_df(index, doc_filter)

    def kernel(pdf: pd.DataFrame, tomb, allowed) -> pd.DataFrame:
        ids = _decode_ids_only(pdf)
        live = _live_mask(ids, tomb, allowed)
        if live is not None:
            ids = ids[live]
        return pd.DataFrame({"doc_id": ids[: min(k, ids.size)]})

    local = _salt_scored(post, filt, doc_filter is not None, kernel, "doc_id long")
    top = (
        local.orderBy(F.asc("doc_id"))
        .limit(k)
        .withColumn("score", F.lit(float(boost)))
    )
    return _with_urls(index, top, ordered=False).orderBy(F.asc("doc_id"))


def constant_score_sql(
    terms: list[str],
    boost: float = 1.2,
    k: int = 10,
    doc_filter_sql: str | None = None,
) -> str:
    where = f"WHERE {doc_filter_sql}" if doc_filter_sql else ""
    return f"""
WITH {CORPUS_CTE.strip()},
base AS (SELECT * FROM corpus {where}),
toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text),
             '{TOKEN_SPLIT_RE}'), t -> t <> '')) AS term
  FROM base
),
matched AS (SELECT DISTINCT doc_id FROM toks
            WHERE term IN ({_terms_sql(terms)}))
SELECT m.doc_id, b.url, {float(boost)!r} AS score
FROM matched m JOIN base b ON m.doc_id = b.doc_id
ORDER BY m.doc_id ASC
LIMIT {k}
"""


def distance_feature_topk(
    index: dict,
    terms: list[str],
    pivot_sec: int = 3600,
    boost: float = 2.0,
    origin_epoch: int = ORIGIN_EPOCH,
    k: int = 10,
) -> DataFrame:
    """ES bool { must: match(terms), should: distance_feature(warc_ts) }:
    BM25 sum plus ``boost * pivot / (pivot + |epoch - origin|)`` for every
    matching doc, rounded once.  Epochs are exact integers so the only
    cross-engine float surface is one divide, absorbed by the rounding."""
    spark = index["doc_map"].sparkSession
    empty = spark.createDataFrame([], "doc_id long, url string, score double")
    idfs, avgdl = _collect_idfs(index, sorted(set(terms)))
    if not idfs:
        return empty
    post = _postings_for_terms(index, sorted(idfs))
    filt = _filters_df(index, None)
    side = index["doc_map"].select(
        "doc_id",
        F.col("warc_ts").cast("long").alias("epoch"),
        F.lit("h").alias("kind"),
    )
    if filt is not None:
        side = side.unionByName(
            filt.select(
                "doc_id", F.lit(None).cast("long").alias("epoch"), "kind"
            )
        )
    side = side.withColumn(
        "salt", F.pmod(F.col("doc_id"), F.lit(_n_parts(index))).cast("int")
    )
    piv, bst, org = float(pivot_sec), float(boost), float(origin_epoch)

    def kernel(post_pdf: pd.DataFrame, side_pdf: pd.DataFrame) -> pd.DataFrame:
        dv = side_pdf.loc[side_pdf["kind"] == "h", ["doc_id", "epoch"]]
        tomb, _ = _split_filters(side_pdf, has_allow=False)
        scored = _score_salt_group(
            post_pdf, idfs, float(avgdl), 1 << 60, tombstones=tomb,
            raw_scores=True,
        )
        if scored.empty:
            return _EMPTY.copy()
        m = scored.merge(dv, on="doc_id", how="left")
        dist = np.abs(m["epoch"].to_numpy(np.float64) - org)
        return _topk_frame(
            *_select(
                m["doc_id"].to_numpy(np.int64),
                m["score"].to_numpy(np.float64) + bst * piv / (piv + dist),
                k,
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


def distance_feature_sql(
    terms: list[str],
    pivot_sec: int = 3600,
    boost: float = 2.0,
    origin_ts: str = ORIGIN_TS,
    k: int = 10,
) -> str:
    feat = (
        f"{float(boost)!r} * {float(pivot_sec)!r} / ({float(pivot_sec)!r}"
        f" + abs(epoch(warc_ts) - epoch(TIMESTAMP '{origin_ts}')))"
    )
    return f"""
WITH {CORPUS_CTE.strip()},
dl AS (SELECT doc_id, url, warc_ts, {DOC_LEN_SQL} AS doc_len FROM corpus),
stats AS (SELECT count(*) AS n, avg(doc_len) AS avgdl FROM dl),
toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text),
             '{TOKEN_SPLIT_RE}'), t -> t <> '')) AS term
  FROM corpus
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks
  WHERE term IN ({_terms_sql(terms)}) GROUP BY doc_id, term
),
tdf AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum(
           ln(1 + (stats.n - tdf.df + 0.5) / (tdf.df + 0.5))
           * tf.tf * ({K1} + 1.0)
           / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / stats.avgdl))
         ) AS raw
  FROM tf
  JOIN dl ON tf.doc_id = dl.doc_id
  JOIN tdf ON tf.term = tdf.term
  CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT s.doc_id, d.url, round(s.raw + {feat}, {SCORE_DECIMALS}) AS score
FROM scored s JOIN dl d ON s.doc_id = d.doc_id
ORDER BY score DESC, s.doc_id ASC
LIMIT {k}
"""


# --- rank_feature -------------------------------------------------------------

RANK_FEATURE_FUNCS = ("saturation", "log", "sigmoid")


def _rank_feature_np(x: np.ndarray, func: str, pivot: float, exponent: float):
    if func == "saturation":
        return x / (x + pivot)
    if func == "log":
        return np.log(1.0 + x / pivot)
    if func == "sigmoid":
        return x**exponent / (x**exponent + pivot**exponent)
    raise ValueError(f"rank_feature func must be one of {RANK_FEATURE_FUNCS}")


def rank_feature_topk(
    index: dict,
    terms: list[str],
    pivot: float = 40.0,
    boost: float = 2.0,
    k: int = 10,
    func: str = "saturation",
    exponent: float = 2.0,
) -> DataFrame:
    """ES bool { must: match(terms), should: rank_feature(doc_len) }:
    BM25 sum plus ``boost * f(doc_len)`` where f is the ES rank_feature
    function — saturation x/(x+pivot) (the default), log ln(1+x/pivot),
    or sigmoid x^e/(x^e+pivot^e).

    Same kernel shape as distance_feature: the static feature rides into
    the salt as a doc-values slice of doc_map (cogroup — never a driver
    collect), additive boosting forces full accumulation (no theta cut),
    and the global stage is a P*k TakeOrdered.  doc_len is the feature
    because it is the one numeric doc value both the index (doc_map) and
    the relational oracle (DOC_LEN_SQL) derive identically; any doc_map
    column slots in the same way."""
    if func not in RANK_FEATURE_FUNCS:
        raise ValueError(f"rank_feature func must be one of {RANK_FEATURE_FUNCS}")
    spark = index["doc_map"].sparkSession
    empty = spark.createDataFrame([], "doc_id long, url string, score double")
    idfs, avgdl = _collect_idfs(index, sorted(set(terms)))
    if not idfs:
        return empty
    post = _postings_for_terms(index, sorted(idfs))
    filt = _filters_df(index, None)
    side = index["doc_map"].select(
        "doc_id",
        F.col("doc_len").cast("double").alias("feat"),
        F.lit("h").alias("kind"),
    )
    if filt is not None:
        side = side.unionByName(
            filt.select(
                "doc_id", F.lit(None).cast("double").alias("feat"), "kind"
            )
        )
    side = side.withColumn(
        "salt", F.pmod(F.col("doc_id"), F.lit(_n_parts(index))).cast("int")
    )
    piv, bst, expo = float(pivot), float(boost), float(exponent)

    def kernel(post_pdf: pd.DataFrame, side_pdf: pd.DataFrame) -> pd.DataFrame:
        dv = side_pdf.loc[side_pdf["kind"] == "h", ["doc_id", "feat"]]
        tomb, _ = _split_filters(side_pdf, has_allow=False)
        scored = _score_salt_group(
            post_pdf, idfs, float(avgdl), 1 << 60, tombstones=tomb,
            raw_scores=True,
        )
        if scored.empty:
            return _EMPTY.copy()
        m = scored.merge(dv, on="doc_id", how="left")
        feat = _rank_feature_np(m["feat"].to_numpy(np.float64), func, piv, expo)
        return _topk_frame(
            *_select(
                m["doc_id"].to_numpy(np.int64),
                m["score"].to_numpy(np.float64) + bst * feat,
                k,
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


def rank_feature_sql(
    terms: list[str],
    pivot: float = 40.0,
    boost: float = 2.0,
    k: int = 10,
    func: str = "saturation",
    exponent: float = 2.0,
) -> str:
    x = "CAST(dl.doc_len AS DOUBLE)"
    piv, expo = float(pivot), float(exponent)
    feat = {
        "saturation": f"{x} / ({x} + {piv!r})",
        "log": f"ln(1.0 + {x} / {piv!r})",
        "sigmoid": f"pow({x}, {expo!r}) / (pow({x}, {expo!r}) + pow({piv!r}, {expo!r}))",
    }[func]
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
  WHERE term IN ({_terms_sql(terms)}) GROUP BY doc_id, term
),
tdf AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum(
           ln(1 + (stats.n - tdf.df + 0.5) / (tdf.df + 0.5))
           * tf.tf * ({K1} + 1.0)
           / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / stats.avgdl))
         ) AS raw
  FROM tf
  JOIN dl ON tf.doc_id = dl.doc_id
  JOIN tdf ON tf.term = tdf.term
  CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT s.doc_id, dl.url,
       round(s.raw + {float(boost)!r} * ({feat}), {SCORE_DECIMALS}) AS score
FROM scored s JOIN dl ON s.doc_id = dl.doc_id
ORDER BY score DESC, s.doc_id ASC
LIMIT {k}
"""


# --- pinned query -------------------------------------------------------------


def pinned_topk(
    index: dict,
    terms: list[str],
    pinned_ids: list[int],
    k: int = 10,
    exclude_ids: list[int] | None = None,
) -> DataFrame:
    """ES `pinned` query: the listed doc ids occupy the top positions in
    the given order (returned regardless of whether they match the
    organic query — the ES contract), organic BM25 hits follow with the
    pinned ids removed.

    Organic retrieval is the untouched WAND path with the pinned set as
    a doc_filter pushed into the per-salt kernels (ids are dropped before
    scoring; global stats untouched — ES filter-context semantics), so
    the expensive side keeps its pruned, index-backed plan; the pinned
    side is a |pins|-row broadcast lookup against doc_map.  Returns
    (rank, doc_id, url, pinned, score) with score NULL on pinned rows
    (ES surfaces a synthetic float there; NULL is the honest analogue).
    """
    from .wand import wand_topk

    spark = index["doc_map"].sparkSession
    excl = [int(e) for e in (exclude_ids or [])]
    # exclusion wins over pinning (the ES query-rules contract); excluded
    # ids also leave the organic side via the same pushed doc_filter
    pins = [int(p) for p in pinned_ids if int(p) not in set(excl)]
    dropped = sorted(set(pins) | set(excl))
    if not dropped:
        org = wand_topk(index, terms, k=k)
        base = org.select(
            "doc_id", "url", F.lit(False).alias("pinned"), "score"
        )
    elif not pins:
        not_in = f"doc_id NOT IN ({', '.join(str(p) for p in dropped)})"
        org = wand_topk(index, terms, k=k, doc_filter=not_in)
        base = org.select(
            "doc_id", "url", F.lit(False).alias("pinned"), "score"
        )
    else:
        not_pinned = f"doc_id NOT IN ({', '.join(str(p) for p in dropped)})"
        org = wand_topk(index, terms, k=k, doc_filter=not_pinned)
        ord_col = F.lit(None).cast("int")
        for i, p in enumerate(pins):
            ord_col = F.when(F.col("doc_id") == p, F.lit(i)).otherwise(ord_col)
        pinned_rows = (
            index["doc_map"]
            .filter(F.col("doc_id").isin(pins))
            .select(
                "doc_id", "url", F.lit(True).alias("pinned"),
                F.lit(None).cast("double").alias("score"),
                ord_col.alias("ord"),
            )
        )
        # organic excludes the pinned ids by construction (doc_filter),
        # so the union is disjoint — no dedup needed
        base = pinned_rows.unionByName(
            org.select(
                "doc_id", "url", F.lit(False).alias("pinned"), "score",
                F.lit(None).cast("int").alias("ord"),
            )
        )
    from pyspark.sql import Window

    # <= |pins| + k rows reach this point; the single-partition window is
    # bounded (same deliberate shape as search.py's paginated window)
    order = [F.desc("pinned")]
    if pins:
        order.append(F.asc_nulls_last("ord"))
    order += [F.desc_nulls_last("score"), F.asc("doc_id")]
    w = Window.partitionBy(F.lit(0)).orderBy(*order)
    return (
        base.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("rank", "doc_id", "url", "pinned", "score")
        .orderBy("rank")
    )


def pinned_sql(
    terms: list[str],
    pinned_ids: list[int],
    k: int = 10,
    exclude_ids: list[int] | None = None,
) -> str:
    excl = [int(e) for e in (exclude_ids or [])]
    pins = [int(p) for p in pinned_ids if int(p) not in set(excl)]
    dropped = sorted(set(pins) | set(excl))
    pin_vals = ", ".join(f"({i}, {p})" for i, p in enumerate(pins))
    not_in = (
        f"WHERE s.doc_id NOT IN ({', '.join(str(p) for p in dropped)})"
        if dropped
        else ""
    )
    pin_cte = (
        f"""pins AS (
  SELECT ord, doc_id FROM (VALUES {pin_vals}) AS v(ord, doc_id)
),
pinned_rows AS (
  SELECT CAST(p.ord AS INTEGER) AS ord, c.doc_id, c.url,
         TRUE AS pinned, CAST(NULL AS DOUBLE) AS score
  FROM pins p JOIN corpus c ON p.doc_id = c.doc_id
),"""
        if pins
        else ""
    )
    union = (
        "SELECT * FROM pinned_rows UNION ALL SELECT * FROM organic"
        if pins
        else "SELECT * FROM organic"
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
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks
  WHERE term IN ({_terms_sql(terms)}) GROUP BY doc_id, term
),
tdf AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
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
),
{pin_cte}
organic AS (
  SELECT CAST(NULL AS INTEGER) AS ord, s.doc_id, d.url,
         FALSE AS pinned, s.score
  FROM scored s JOIN dl d ON s.doc_id = d.doc_id
  {not_in}
  ORDER BY s.score DESC, s.doc_id ASC
  LIMIT {k}
),
unioned AS ({union})
SELECT CAST(row_number() OVER (
         ORDER BY pinned DESC, ord ASC NULLS LAST,
                  score DESC NULLS LAST, doc_id ASC) AS INTEGER) AS rank,
       doc_id, url, pinned, score
FROM unioned
QUALIFY rank <= {k}
ORDER BY rank
"""
