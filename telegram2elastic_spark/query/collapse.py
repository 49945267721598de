"""Field collapsing — ES `collapse`: one (best) hit per key in the ranked
results.

The web-search shape: dedupe the top-k by host so one prolific site
cannot fill the page.  Semantics (ES collapse on the relevance sort):
score every matching doc, keep each collapse key's best hit (score desc,
doc_id asc within the key), then return the top-k of those
representatives (score desc, doc_id asc across representatives).

Serving shape (`index=`): ES collapses per shard on the ranked retrieval
— each shard returns its local top-k *collapsed* list, the coordinator
merges per-key maxima.  That per-shard truncation is exact: if a key's
global-best doc lives in shard s but misses s's top-k collapsed list,
then k other keys' s-local bests strictly outrank it, and each of those
keys' *global* bests rank at least as high — so the key was outside the
global top-k anyway.  Here a shard is a salt partition: the scoring
kernel (full accumulation over the query terms' posting blocks — no
top-k truncation before the per-key reduction) looks hosts up in the
salt's slice of the host map (cogrouped, doc-aligned — the keyword
doc-values column ES reads for collapse keys) and emits at most k
(host, best doc) rows; the global merge is a per-host max_by hash
aggregate over P*k rows plus a TakeOrdered.  The corpus is never
re-tokenized at query time.

Relational fallback (no index): score via bm25_scores, per-key best via
groupBy(key).agg(max_by(...)) — a hash aggregate with map-side partial
combine (each partition contributes at most one candidate per key it
contains), never a window sort over the full match set; the top-k of
representatives is a TakeOrdered.  The key is the url host (everything
after '://' up to the first '/' or end of string), derived identically
in SQL.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..corpus import CORPUS_CTE
from ..functions.tokenizer import DOC_LEN_SQL, TOKEN_SPLIT_RE
from .bm25 import B, K1, SCORE_DECIMALS, bm25_scores


def host_col() -> F.Column:
    return F.regexp_extract("url", r"^[a-z]+://([^/]+)", 1)


# The default collapse key.  Any SQL expression over doc columns works as
# `key_expr` (ES collapses on any keyword field — e.g. "lang"); this one
# is kept to the regexp_extract subset that evaluates identically in
# Spark SQL and DuckDB so the oracle stays shared.
HOST_SQL = "regexp_extract(url, '^[a-z]+://([^/]+)', 1)"


def search_collapse(
    corpus: DataFrame,
    terms: list[str],
    k: int = 10,
    index: dict | None = None,
    key_expr: str = HOST_SQL,
) -> DataFrame:
    """(host, doc_id, url, score): top-k hosts by their best-scoring hit;
    ties inside a host break by doc_id asc, across hosts also by doc_id
    asc (the representative's doc_id — matching the relevance-sorted ES
    hit order).  With `index=` the ranking is served from the compressed
    posting index (per-salt collapse, module docstring); rank-identical
    to the relational path.  `key_expr` is any SQL expression over the
    doc columns (default: url host) — the ES any-keyword-field collapse;
    the output column is always named `host`."""
    if index is not None:
        return _collapse_indexed(index, terms, k, key_expr)
    # score ALL matching docs — collapse needs every key's best, so the
    # candidate set is per-key-reduced (map-side combine), never
    # top-k-truncated before the reduction
    scored = bm25_scores(corpus, terms)
    try:
        # fast path: key derivable from the scored columns (the default
        # host key needs only url) — no extra join
        scored = scored.withColumn("host", F.expr(key_expr))
    except Exception:
        # key over other corpus columns (e.g. lang): narrow doc_id+key
        # projection joined in — column-pruned scan, equi-join on doc_id
        keyed = corpus.select("doc_id", F.expr(key_expr).alias("host"))
        scored = scored.join(keyed, "doc_id")
    best = _best_per_host(scored)
    return best.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def _best_per_host(scored: DataFrame) -> DataFrame:
    """Per-key best via max_by over a struct ordered (score desc, doc_id
    asc): encode as (score, -doc_id) so the natural struct max is the
    wanted representative.  Hash aggregate, no Window."""
    return (
        scored.groupBy("host")
        .agg(
            F.max_by(
                F.struct("doc_id", "url", "score"),
                F.struct(F.col("score"), -F.col("doc_id")),
            ).alias("top")
        )
        .select(
            "host",
            F.col("top.doc_id").alias("doc_id"),
            F.col("top.url").alias("url"),
            F.col("top.score").alias("score"),
        )
    )


def _collapse_indexed(
    index: dict, terms: list[str], k: int, key_expr: str = HOST_SQL
) -> DataFrame:
    """Index-backed collapse: postings-only scoring + per-salt per-host
    partial bests (see module docstring for the exactness argument)."""
    from .wand import (
        _collect_idfs,
        _filters_df,
        _n_parts,
        _postings_for_terms,
        _score_salt_group,
        _split_filters,
        _with_urls,
    )

    spark = index["doc_map"].sparkSession
    idfs, avgdl = _collect_idfs(index, terms)
    empty = spark.createDataFrame(
        [], "host string, doc_id long, url string, score double"
    )
    if not idfs:
        return empty

    post = _postings_for_terms(index, sorted(idfs))
    # host map, doc-aligned with the postings salts: a narrow
    # (doc_id, host) projection of doc_map — the url column is pruned to
    # the regex input, nothing corpus-sized crosses the driver.  Tombstone
    # ids ride along as kind='t' rows (cogroup takes exactly two sides).
    filt = _filters_df(index, None)
    side = index["doc_map"].select(
        "doc_id", F.expr(key_expr).alias("host"), F.lit("h").alias("kind")
    )
    if filt is not None:
        side = side.unionByName(
            filt.select("doc_id", F.lit(None).cast("string").alias("host"),
                        "kind")
        )
    side = side.withColumn(
        "salt", F.pmod(F.col("doc_id"), F.lit(_n_parts(index))).cast("int")
    )

    def kernel(post_pdf: pd.DataFrame, side_pdf: pd.DataFrame) -> pd.DataFrame:
        hosts = side_pdf.loc[side_pdf["kind"] == "h", ["doc_id", "host"]]
        tomb, _ = _split_filters(side_pdf, has_allow=False)
        # full accumulation: k=2**60 never arms the theta cut, so every
        # matching live doc comes back scored (collapse must see each
        # host's best, which may rank arbitrarily low overall)
        scored = _score_salt_group(
            post_pdf, idfs, float(avgdl), 1 << 60, tombstones=tomb
        )
        if scored.empty:
            return pd.DataFrame(
                {
                    "host": pd.Series([], dtype="object"),
                    "doc_id": pd.Series([], dtype="int64"),
                    "score": pd.Series([], dtype="float64"),
                }
            )
        m = scored.merge(hosts, on="doc_id", how="left")
        order = np.lexsort((m["doc_id"].to_numpy(), -m["score"].to_numpy()))
        m = m.iloc[order]
        # first row per host in (score desc, doc_id asc) order = the
        # host's salt-local best; top-k of those is the shard answer
        return m.drop_duplicates("host", keep="first").head(k)[
            ["host", "doc_id", "score"]
        ]

    local = (
        post.groupBy("salt")
        .cogroup(side.groupBy("salt"))
        .applyInPandas(kernel, "host string, doc_id long, score double")
    )
    # same host may surface from several salts: per-host max, then top-k
    best = (
        local.groupBy("host")
        .agg(
            F.max_by(
                F.struct("doc_id", "score"),
                F.struct(F.col("score"), -F.col("doc_id")),
            ).alias("top")
        )
        .select(
            "host",
            F.col("top.doc_id").alias("doc_id"),
            F.col("top.score").alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )
    return _with_urls(index, best)


def search_collapse_sql(
    terms: list[str], k: int = 10, key_expr: str = HOST_SQL
) -> str:
    tl = ", ".join("'" + t.replace("'", "''") + "'" for t in sorted(set(terms)))
    return f"""
WITH {CORPUS_CTE.strip()},
dl AS (SELECT doc_id, url, lang, warc_ts, {DOC_LEN_SQL} AS doc_len FROM corpus),
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
  SELECT tf.doc_id, dl.url, {key_expr} AS host,
         round(sum(
           ln(1 + (stats.n - tdf.df + 0.5) / (tdf.df + 0.5))
           * tf.tf * ({K1} + 1.0)
           / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / stats.avgdl))
         ), {SCORE_DECIMALS}) AS score
  FROM tf
  JOIN dl ON tf.doc_id = dl.doc_id
  JOIN tdf ON tf.term = tdf.term
  CROSS JOIN stats
  GROUP BY tf.doc_id, dl.url, host
),
best AS (
  SELECT host, doc_id, url, score,
         row_number() OVER (
           PARTITION BY host ORDER BY score DESC, doc_id ASC
         ) AS rn
  FROM scored
)
SELECT host, doc_id, url, score
FROM best WHERE rn = 1
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


# --- collapse inner_hits ------------------------------------------------------


def collapse_inner_hits(
    corpus: DataFrame,
    terms: list[str],
    k: int = 10,
    inner_size: int = 3,
    key_expr: str = HOST_SQL,
    index: dict | None = None,
) -> DataFrame:
    """ES `collapse` with `inner_hits`: for each of the top-k collapse
    keys (ranked by their representative as in search_collapse), return
    that key's top `inner_size` hits with their in-group rank.

    Output: (host, doc_id, url, score, hit_rank) — hit_rank 1 is the
    representative.

    With `index=`, the ES two-phase serving shape: phase 1 is the exact
    index-backed collapse (winning keys, bounded per-salt emission);
    phase 2 re-runs the salt kernel ADMITTING ONLY the k winning keys
    (broadcast into the kernel closure) and emits each winner's
    salt-local top `inner_size` — so emission is bounded by k *
    inner_size per salt and the corpus is never re-tokenized.  A single
    bounded pass cannot be exact here: a winner's global #2 hit may live
    in a salt whose local top-k collapsed list excludes that key, which
    is why ES also fetches inner_hits as a second phase.

    Relational fallback: ONE shuffle on the collapse key for the
    per-key window rank (partition-local sort — never a global window),
    then a broadcast semi-join against the k-row winning-host list; the
    group ranking is computed in the same pass that found the
    representatives, so the corpus is scored once.  Reference analogue:
    ES collapse.inner_hits implied by README.md:5 Kibana serving."""
    if index is not None:
        return _inner_hits_indexed(index, terms, k, inner_size, key_expr)
    from pyspark.sql import Window

    scored = bm25_scores(corpus, terms).withColumn("host", F.expr(key_expr))
    w = Window.partitionBy("host").orderBy(F.desc("score"), F.asc("doc_id"))
    ranked = scored.withColumn("hit_rank", F.row_number().over(w)).filter(
        F.col("hit_rank") <= inner_size
    )
    winners = (
        ranked.filter(F.col("hit_rank") == 1)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .select("host")
    )
    return ranked.join(F.broadcast(winners), "host", "left_semi").select(
        "host", "doc_id", "url", "score", "hit_rank"
    )


def _inner_hits_indexed(
    index: dict, terms: list[str], k: int, inner_size: int, key_expr: str
) -> DataFrame:
    """Two-phase index-backed inner_hits (see collapse_inner_hits
    docstring).  Phase-2 emission is <= k * inner_size rows per salt."""
    from pyspark.sql import Window

    from .wand import (
        _collect_idfs,
        _filters_df,
        _n_parts,
        _postings_for_terms,
        _score_salt_group,
        _split_filters,
        _with_urls,
    )

    spark = index["doc_map"].sparkSession
    empty = spark.createDataFrame(
        [],
        "host string, doc_id long, url string, score double, hit_rank int",
    )
    idfs, avgdl = _collect_idfs(index, terms)
    if not idfs:
        return empty
    # phase 1: exact winners (k rows on the driver — the ES coordinator
    # state; hosts may be NULL-free strings only, key_expr is trusted)
    winners = [
        r["host"] for r in _collapse_indexed(index, terms, k, key_expr)
        .select("host").collect()
    ]
    if not winners:
        return empty
    winner_set = frozenset(winners)

    post = _postings_for_terms(index, sorted(idfs))
    filt = _filters_df(index, None)
    side = index["doc_map"].select(
        "doc_id", F.expr(key_expr).alias("host"), F.lit("h").alias("kind")
    )
    if filt is not None:
        side = side.unionByName(
            filt.select("doc_id", F.lit(None).cast("string").alias("host"),
                        "kind")
        )
    side = side.withColumn(
        "salt", F.pmod(F.col("doc_id"), F.lit(_n_parts(index))).cast("int")
    )

    def kernel(post_pdf: pd.DataFrame, side_pdf: pd.DataFrame) -> pd.DataFrame:
        out_empty = pd.DataFrame(
            {
                "host": pd.Series([], dtype="object"),
                "doc_id": pd.Series([], dtype="int64"),
                "score": pd.Series([], dtype="float64"),
            }
        )
        hosts = side_pdf.loc[side_pdf["kind"] == "h", ["doc_id", "host"]]
        hosts = hosts[hosts["host"].isin(winner_set)]
        if hosts.empty:
            return out_empty
        tomb, _ = _split_filters(side_pdf, has_allow=False)
        scored = _score_salt_group(
            post_pdf, idfs, float(avgdl), 1 << 60, tombstones=tomb
        )
        if scored.empty:
            return out_empty
        m = scored.merge(hosts, on="doc_id", how="inner")
        if m.empty:
            return out_empty
        order = np.lexsort((m["doc_id"].to_numpy(), -m["score"].to_numpy()))
        m = m.iloc[order]
        # salt-local top inner_size per winning host
        return m.groupby("host", sort=False).head(inner_size)[
            ["host", "doc_id", "score"]
        ]

    local = (
        post.groupBy("salt")
        .cogroup(side.groupBy("salt"))
        .applyInPandas(kernel, "host string, doc_id long, score double")
    )
    # global per-host rank over <= P * k * inner_size rows
    w = Window.partitionBy("host").orderBy(F.desc("score"), F.asc("doc_id"))
    ranked = (
        local.withColumn("hit_rank", F.row_number().over(w))
        .filter(F.col("hit_rank") <= inner_size)
    )
    return _with_urls(index, ranked, ordered=False)


def collapse_inner_hits_sql(
    terms: list[str], k: int = 10, inner_size: int = 3, key_expr: str = HOST_SQL
) -> str:
    tl = ", ".join("'" + t.replace("'", "''") + "'" for t in sorted(set(terms)))
    return f"""
WITH {CORPUS_CTE.strip()},
dl AS (SELECT doc_id, url, lang, warc_ts, {DOC_LEN_SQL} AS doc_len FROM corpus),
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
  SELECT tf.doc_id, dl.url, {key_expr} AS host,
         round(sum(
           ln(1 + (stats.n - tdf.df + 0.5) / (tdf.df + 0.5))
           * tf.tf * ({K1} + 1.0)
           / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / stats.avgdl))
         ), {SCORE_DECIMALS}) AS score
  FROM tf
  JOIN dl ON tf.doc_id = dl.doc_id
  JOIN tdf ON tf.term = tdf.term
  CROSS JOIN stats
  GROUP BY tf.doc_id, dl.url, host
),
ranked AS (
  SELECT host, doc_id, url, score,
         row_number() OVER (
           PARTITION BY host ORDER BY score DESC, doc_id ASC
         ) AS hit_rank
  FROM scored
),
winners AS (
  SELECT host FROM ranked WHERE hit_rank = 1
  ORDER BY score DESC, doc_id ASC
  LIMIT {k}
)
SELECT r.host, r.doc_id, r.url, r.score, r.hit_rank
FROM ranked r JOIN winners w ON r.host = w.host
WHERE r.hit_rank <= {int(inner_size)}
"""
