"""ES `function_score` — combine the BM25 relevance score with document
functions: a gauss decay on recency (the "prefer fresh pages" ranking the
reference's dashboards imply — README.md:5 Kibana over per-day indices)
and a `field_value_factor` over a stored numeric field.

Semantics (ES function_score, boost_mode=multiply, score_mode=multiply):

    gauss(ts)  = exp( ln(decay) * (max(0, |ts - origin| - offset)/scale)^2 )
    fvf(dl)    = factor * ln(1 + dl)                (modifier: log1p)
    final      = round( bm25(q, d) * gauss * [fvf] , SCORE_DECIMALS )

`gauss` is exactly the ES formulation with sigma^2 = -scale^2/(2 ln decay)
rewritten so both engines evaluate the same double expression.  All decay
inputs are exact integers (epoch seconds), so the only cross-engine noise
is libm exp/ln ulps, absorbed by the final rounding — the same argument
the BM25 idf relies on.

Serving shape (`index=`): the per-salt kernel scores the query terms from
the compressed postings (full accumulation — a multiplicative function
can demote high-BM25 docs and promote low ones, so no score-ordered
pruning is sound without a function upper bound), joins the salt's
doc-aligned (epoch, doc_len) slice (cogrouped doc-values, like collapse's
host map), computes the combined score IN the kernel, and emits the
salt-local top-k by the final rounded key.  Each doc lives in exactly one
salt and the final key is computed identically everywhere, so the global
merge is an exact TakeOrdered over P*k rows.  The corpus is never
re-tokenized at query time.

Scale note: with decay <= 1 and no fvf, bm25 * gauss <= bm25, so
MaxScore-style pruning with the term upper bounds WOULD stay admissible;
it is deliberately not wired because the fvf variant breaks the bound and
the full-accumulation kernel is already postings-bounded per salt.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..corpus import CORPUS_CTE
from ..functions.tokenizer import DOC_LEN_SQL, TOKEN_SPLIT_RE, tokens
from .bm25 import B, K1, SCORE_DECIMALS, bm25_scores

# Deterministic defaults: origin = corpus epoch, minute-scale decay window
# so every driver sf (sf0.001 spans ~31 min) exercises a non-trivial decay.
ORIGIN = "2022-01-01 00:00:00"
ORIGIN_EPOCH = 1640995200
SCALE_SEC = 1800
OFFSET_SEC = 120
DECAY = 0.5
FVF_FACTOR = 0.5


def _gauss_np(epoch: np.ndarray, scale: int, offset: int, decay: float) -> np.ndarray:
    dist = np.maximum(0.0, np.abs(epoch - float(ORIGIN_EPOCH)) - float(offset))
    return np.exp(np.log(decay) * (dist / float(scale)) ** 2)


def function_score_topk(
    corpus: DataFrame,
    terms: list[str],
    k: int = 10,
    index: dict | None = None,
    scale_sec: int = SCALE_SEC,
    offset_sec: int = OFFSET_SEC,
    decay: float = DECAY,
    fvf_factor: float | None = None,
) -> DataFrame:
    """Top-k (doc_id, url, score) under BM25 * gauss(warc_ts)
    [* fvf_factor * ln(1+doc_len) when fvf_factor is set].  With `index=`
    served from the compressed posting index (module docstring);
    rank-identical to the relational path."""
    if index is not None:
        return _funcscore_indexed(
            index, terms, k, scale_sec, offset_sec, decay, fvf_factor
        )
    scored = bm25_scores(corpus, terms)
    side = corpus.select(
        "doc_id",
        F.col("warc_ts").cast("long").alias("epoch"),
        F.size(tokens("text")).alias("doc_len"),
    )
    dist = F.greatest(
        F.lit(0.0),
        F.abs(F.col("epoch") - F.lit(float(ORIGIN_EPOCH))) - F.lit(float(offset_sec)),
    )
    mult = F.exp(F.lit(float(np.log(decay))) * F.pow(dist / F.lit(float(scale_sec)), 2))
    if fvf_factor is not None:
        mult = mult * (
            F.lit(float(fvf_factor)) * F.log(F.lit(1.0) + F.col("doc_len"))
        )
    return (
        scored.join(side, "doc_id")
        .select(
            "doc_id",
            "url",
            F.round(F.col("score") * mult, SCORE_DECIMALS).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def _doc_values_side(index: dict) -> DataFrame:
    """Doc-values side of a rescoring kernel: (doc_id, epoch, doc_len)
    rows (kind 'h'), salt-aligned with the postings; tombstones ride
    along as kind 't' rows (cogroup is 2-ary)."""
    from .wand import _filters_df, _n_parts

    filt = _filters_df(index, None)
    side = index["doc_map"].select(
        "doc_id",
        F.col("warc_ts").cast("long").alias("epoch"),
        F.col("doc_len").cast("long").alias("doc_len"),
        F.lit("h").alias("kind"),
    )
    if filt is not None:
        side = side.unionByName(
            filt.select(
                "doc_id",
                F.lit(None).cast("long").alias("epoch"),
                F.lit(None).cast("long").alias("doc_len"),
                "kind",
            )
        )
    return side.withColumn(
        "salt", F.pmod(F.col("doc_id"), F.lit(_n_parts(index))).cast("int")
    )


def _funcscore_indexed(
    index: dict,
    terms: list[str],
    k: int,
    scale_sec: int,
    offset_sec: int,
    decay: float,
    fvf_factor: float | None,
) -> DataFrame:
    from .wand import (
        _EMPTY,
        _collect_idfs,
        _postings_for_terms,
        _score_salt_group,
        _select,
        _split_filters,
        _topk_frame,
        _with_urls,
    )

    spark = index["doc_map"].sparkSession
    idfs, avgdl = _collect_idfs(index, terms)
    empty = spark.createDataFrame([], "doc_id long, url string, score double")
    if not idfs:
        return empty

    post = _postings_for_terms(index, sorted(idfs))
    side = _doc_values_side(index)

    def kernel(post_pdf: pd.DataFrame, side_pdf: pd.DataFrame) -> pd.DataFrame:
        dv = side_pdf.loc[side_pdf["kind"] == "h", ["doc_id", "epoch", "doc_len"]]
        tomb, _ = _split_filters(side_pdf, has_allow=False)
        scored = _score_salt_group(
            post_pdf, idfs, float(avgdl), 1 << 60, tombstones=tomb
        )
        if scored.empty:
            return _EMPTY.copy()
        m = scored.merge(dv, on="doc_id", how="left")
        mult = _gauss_np(
            m["epoch"].to_numpy(np.float64), scale_sec, offset_sec, decay
        )
        if fvf_factor is not None:
            mult = mult * (
                float(fvf_factor) * np.log1p(m["doc_len"].to_numpy(np.float64))
            )
        return _topk_frame(
            *_select(
                m["doc_id"].to_numpy(np.int64), m["score"].to_numpy() * mult, k
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


def function_score_sql(
    terms: list[str],
    k: int = 10,
    scale_sec: int = SCALE_SEC,
    offset_sec: int = OFFSET_SEC,
    decay: float = DECAY,
    fvf_factor: float | None = None,
) -> str:
    tl = ", ".join("'" + t.replace("'", "''") + "'" for t in sorted(set(terms)))
    mult = (
        f"exp(ln({decay!r}) * pow(greatest(0.0, "
        f"abs(epoch(warc_ts) - {ORIGIN_EPOCH}.0) - {float(offset_sec)!r})"
        f" / {float(scale_sec)!r}, 2))"
    )
    if fvf_factor is not None:
        mult = f"{mult} * ({float(fvf_factor)!r} * ln(1.0 + doc_len))"
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
  WHERE term IN ({tl}) GROUP BY doc_id, term
),
tdf AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, dl.url, dl.warc_ts, dl.doc_len,
         round(sum(
           ln(1 + (stats.n - tdf.df + 0.5) / (tdf.df + 0.5))
           * tf.tf * ({K1} + 1.0)
           / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / stats.avgdl))
         ), {SCORE_DECIMALS}) AS score
  FROM tf
  JOIN dl ON tf.doc_id = dl.doc_id
  JOIN tdf ON tf.term = tdf.term
  CROSS JOIN stats
  GROUP BY tf.doc_id, dl.url, dl.warc_ts, dl.doc_len
)
SELECT doc_id, url, round(score * {mult}, {SCORE_DECIMALS}) AS score
FROM scored
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


# --- ES function_score random_score ------------------------------------------

# Cross-engine deterministic "random": a Park-Miller MINSTD step on the
# doc_id reduced mod a prime.  ES's random_score hashes (seed, field) via
# murmur3 — engine-internal; the contract that matters (uniform-ish in
# [0,1), stable per (seed, doc), reproducible) is kept with a mixer both
# engines evaluate in exact int64 arithmetic.  doc_id is reduced mod P
# FIRST so (doc_id % P) * A <= 5.06e9 never overflows, even at 10^12 docs.
RND_P = 104729
RND_A = 48271


def _rnd_np(ids: np.ndarray, seed: int) -> np.ndarray:
    return (((ids % RND_P) * RND_A + int(seed)) % RND_P) / float(RND_P)


def function_score_random_topk(
    corpus: DataFrame,
    terms: list[str],
    seed: int = 42,
    k: int = 10,
    index: dict | None = None,
) -> DataFrame:
    """ES `function_score` with `random_score` (seed, field: doc_id),
    boost_mode=multiply: final = round(bm25 * rnd(seed, doc_id), 5) —
    the deterministic-shuffle ranking used for result diversification /
    A-B bucketing.  With `index=` served from the compressed postings:
    rnd needs nothing but the doc_id, so the per-salt kernel emits its
    top-k by the final key with no doc-values side at all (cheaper than
    the gauss/fvf kernels) and the global TakeOrdered merge is exact."""
    if index is not None:
        return _random_indexed(index, terms, seed, k)
    scored = bm25_scores(corpus, terms)
    rnd = (
        ((F.col("doc_id") % RND_P) * RND_A + F.lit(int(seed))) % RND_P
    ) / F.lit(float(RND_P))
    return (
        scored.select(
            "doc_id",
            "url",
            F.round(F.col("score") * rnd, SCORE_DECIMALS).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def _random_indexed(index: dict, terms: list[str], seed: int, k: int) -> DataFrame:
    from .wand import (
        _collect_idfs,
        _filters_df,
        _postings_for_terms,
        _salt_scored,
        _score_salt_group,
        _select,
        _topk_frame,
        _with_urls,
    )

    spark = index["doc_map"].sparkSession
    idfs, avgdl = _collect_idfs(index, terms)
    empty = spark.createDataFrame([], "doc_id long, url string, score double")
    if not idfs:
        return empty

    def kernel(post_pdf: pd.DataFrame, tomb, _allowed) -> pd.DataFrame:
        scored = _score_salt_group(
            post_pdf, idfs, float(avgdl), 1 << 60, tombstones=tomb
        )
        ids = scored["doc_id"].to_numpy(np.int64)
        return _topk_frame(
            *_select(ids, scored["score"].to_numpy() * _rnd_np(ids, seed), k)
        )

    local = _salt_scored(
        _postings_for_terms(index, sorted(idfs)), _filters_df(index, None),
        False, kernel, "doc_id long, score double",
    )
    return _with_urls(
        index, local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    )


def function_score_random_sql(terms: list[str], seed: int = 42, k: int = 10) -> str:
    tl = ", ".join("'" + t.replace("'", "''") + "'" for t in sorted(set(terms)))
    mult = (
        f"((((doc_id % {RND_P}) * {RND_A} + {int(seed)}) % {RND_P})"
        f" * 1.0 / {RND_P})"
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
  WHERE term IN ({tl}) GROUP BY doc_id, term
),
tdf AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, dl.url,
         round(sum(
           ln(1 + (stats.n - tdf.df + 0.5) / (tdf.df + 0.5))
           * tf.tf * ({K1} + 1.0)
           / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / stats.avgdl))
         ), {SCORE_DECIMALS}) AS score
  FROM tf
  JOIN dl ON tf.doc_id = dl.doc_id
  JOIN tdf ON tf.term = tdf.term
  CROSS JOIN stats
  GROUP BY tf.doc_id, dl.url
)
SELECT doc_id, url, round(score * {mult}, {SCORE_DECIMALS}) AS score
FROM scored
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


# --------------------------------------------------------------------------
# ES function_score random_score (seeded, deterministic)
# --------------------------------------------------------------------------

# 53-bit mantissa window: the quotient is an exactly-representable double
# and the SAME single division runs in both engines.
_RS_MOD = 1 << 53


def random_score_topk(corpus, seed: str = "42", k: int = 10):
    """ES ``random_score`` with a seed + field (seed consistency contract:
    same seed + same doc => same score, ES docs) — the documented ES
    recipe for reproducible random sampling of documents.

    score = h64(seed || '#' || url) % 2^53 / 2^53 — uniform in [0, 1),
    RNG-free, stable across runs/partitionings; top-k by (score desc,
    doc_id) is a uniform sample without replacement.  Map-only scan +
    TakeOrdered; no shuffle.
    """
    from pyspark.sql import functions as F  # noqa: PLC0415

    from ..operators.dedup import h64  # noqa: PLC0415

    r = F.pmod(h64(F.concat(F.lit(seed + "#"), F.col("url"))), F.lit(_RS_MOD))
    return (
        corpus.select(
            "doc_id", "url",
            (r / F.lit(float(_RS_MOD))).alias("rscore"),
        )
        .orderBy(F.desc("rscore"), "doc_id")
        .limit(k)
    )


def random_score_sql(seed: str = "42", k: int = 10) -> str:
    from ..corpus import CORPUS_CTE  # noqa: PLC0415
    from ..operators.dedup import H64_SQL  # noqa: PLC0415

    h = H64_SQL.format(x=f"'{seed}#' || url")
    return f"""
WITH {CORPUS_CTE.strip()}
SELECT doc_id, url, (({h}) % {_RS_MOD}) / {float(_RS_MOD)!r} AS rscore
FROM corpus ORDER BY rscore DESC, doc_id LIMIT {k}"""
