"""Federated multi-index search — the ES index-pattern query.

The reference writes one ES index per day (`strftime` index naming,
output/elasticsearch.py date-pattern indices) and Kibana queries the
`telegram-*` pattern across them (README.md:5).  This module is that
coordinator: one logical query over MANY indexes, each scored with its
OWN statistics (n, avgdl, per-index df) — ES's default
query_then_fetch, where idf is local to the index being searched — and
the per-index top-k lists merged by (score desc, index asc, doc_id
asc).  The k-way merge of per-index top-ks is exact because scores are
independent across indexes.

Two paths, rank-identical:
  * `federated_topk(corpus, terms, partition_col=...)` — relational
    contract: partition the corpus by the index key (lang here — the
    index-per-language deployment; day-pattern keys work identically),
    score each partition with partition-local stats in ONE plan (the
    groupBys all key on (partition, ...) so every aggregate is one
    map-side-combinable shuffle), global TakeOrdered.
  * `federated_topk_indexed(indexes, terms)` — the serving path: one
    verified wand_topk per physical index, k-row unions only.

Scale shape (relational): no per-partition jobs — df/stats/tf are three
hash aggregates keyed by the partition column; the final merge is a
TakeOrdered over candidate rows.  At 10^12 docs the indexed path is the
real deployment and its per-index work is the audited WAND plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..corpus import CORPUS_CTE
from ..functions.tokenizer import DOC_LEN_SQL, TOKEN_SPLIT_RE, tokens
from .bm25 import B, K1, SCORE_DECIMALS, bm25_weight, idf, idf_col


def federated_topk(
    corpus: DataFrame,
    terms: list[str],
    k: int = 10,
    partition_col: str = "lang",
    indices_boost: dict[str, float] | None = None,
) -> DataFrame:
    """(index_name, doc_id, url, score) top-k across per-`partition_col`
    indexes, each scored with its own BM25 statistics.

    `indices_boost` is ES's per-index boost map ({"en": 1.4, ...}):
    each index's scores are multiplied by its boost before the merge
    (unlisted indexes boost 1.0).  The multiplier applies to the
    SHARD-RETURNED score (already rounded to SCORE_DECIMALS) — the
    coordinator-side arithmetic ES performs.  The product is NOT
    re-rounded: both engines snap the shard score to the same decimal
    first, so boosted scores stay bit-identical, while re-rounding would
    manufacture exact half-way decimals (5-decimal score x 2.5) where
    rounding modes legitimately differ."""
    # bm25_topk's persisted-projection pattern (r5): the tokenized corpus
    # previously appeared THREE times in one plan (tf, df-of-tf, stats) —
    # Spark re-tokenized it for each subtree (no common-subplan reuse
    # without a persist; the score_pseudo_term bug-class).  One narrow
    # per-doc projection (dl + per-term tf columns) is persisted; stats,
    # per-part df, and candidate scoring all reduce the SAME cached rows.
    rows, uniq, matched = _federated_rows(corpus, terms, partition_col)
    stats = rows.groupBy("part").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(uniq))
        ],
    )
    scored = (
        _federated_candidates(rows, matched)
        .join(F.broadcast(stats), "part")
        .withColumn(
            "score",
            F.round(_federated_score(uniq, matched), SCORE_DECIMALS)
            * _boost_col(indices_boost),
        )
    )
    return (
        scored.select(
            F.concat(F.lit("idx_"), F.col("part")).alias("index_name"),
            "doc_id", "url", "score",
        )
        .orderBy(F.desc("score"), F.asc("index_name"), F.asc("doc_id"))
        .limit(k)
    )


def _federated_rows(corpus, terms, partition_col):
    """Persisted narrow projection: (part, doc_id, url, dl, tf_i...)."""
    uniq = sorted(set(terms))
    part = F.col(partition_col).alias("part")
    tk = corpus.select(part, "doc_id", "url", tokens("text").alias("_tk"))
    proj = [
        F.col("part"), F.col("doc_id"), F.col("url"),
        F.size("_tk").alias("dl"),
    ] + [
        F.size(F.filter("_tk", lambda x: x == F.lit(t))).alias(f"tf_{i}")
        for i, t in enumerate(uniq)
    ]
    # localCheckpoint, not persist: blocks are dropped by the
    # ContextCleaner when the query's frames are GC'd, so a serving loop
    # cannot accumulate leaked caches (see bm25._reused_projection)
    from .bm25 import _reused_projection

    rows = _reused_projection(tk.select(*proj))
    matched = [F.col(f"tf_{i}") > 0 for i in range(len(uniq))]
    return rows, uniq, matched


def _federated_candidates(rows, matched):
    any_match = matched[0] if matched else F.lit(False)
    for m in matched[1:]:
        any_match = any_match | m
    return rows.filter(any_match)


def _federated_score(uniq, matched):
    """Sum of per-term BM25 weights from the tf_i/df_i/n/avgdl columns.

    Fixed term-order addition (w_0 + w_1 + ...) vs the former groupBy
    SUM's arbitrary order — differs only in the last ulp, absorbed by
    SCORE_DECIMALS rounding (the bm25.py bit-compatibility contract)."""
    score = F.lit(0.0)
    for i in range(len(uniq)):
        w = F.when(
            matched[i],
            bm25_weight(
                F.col(f"tf_{i}"),
                F.col("dl"),
                F.col("avgdl"),
                idf_col(F.col("n"), F.col(f"df_{i}")),
            ),
        ).otherwise(F.lit(0.0))
        score = w if i == 0 else score + w
    return score


def _boost_col(indices_boost: dict[str, float] | None) -> F.Column:
    expr = F.lit(1.0)
    for part, b in sorted((indices_boost or {}).items()):
        expr = F.when(F.col("part") == part, F.lit(float(b))).otherwise(expr)
    return expr


def federated_topk_indexed(
    indexes: dict[str, dict], terms: list[str], k: int = 10,
    indices_boost: dict[str, float] | None = None,
) -> list[tuple]:
    """Serving path: per-index wand top-k (each with its own stats by
    construction), k-way merged.  Returns [(index_name, doc_id, score)]
    rank-identical to federated_topk over the same partitioning
    (including per-index boosts — the coordinator multiplies the shard's
    rounded score, no re-round, same as the relational contract)."""
    from .wand import wand_topk

    boosts = indices_boost or {}
    rows = []
    for name in sorted(indexes):
        b = float(boosts.get(name, 1.0))
        for r in wand_topk(indexes[name], terms, k=k).collect():
            rows.append((f"idx_{name}", r["doc_id"], r["score"] * b))
    rows.sort(key=lambda t: (-t[2], t[0], t[1]))
    return rows[:k]


def federated_topk_sql(
    terms: list[str], k: int = 10, partition_col: str = "lang",
    indices_boost: dict[str, float] | None = None,
) -> str:
    tl = ", ".join("'" + t.replace("'", "''") + "'" for t in sorted(set(terms)))
    boost = "1.0"
    for part, b in sorted((indices_boost or {}).items()):
        esc = part.replace("'", "''")
        boost = f"CASE WHEN tf.part = '{esc}' THEN {float(b)!r} ELSE {boost} END"
    return f"""
WITH {CORPUS_CTE.strip()},
base AS (
  SELECT {partition_col} AS part, doc_id, url,
         {DOC_LEN_SQL} AS dl,
         list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'),
                     t -> t <> '') AS toks
  FROM corpus
),
stats AS (SELECT part, count(*) AS n, avg(dl) AS avgdl FROM base GROUP BY part),
tf AS (
  SELECT part, doc_id, url, dl, t.term, count(*) AS tf
  FROM base, LATERAL (SELECT unnest(toks) AS term) t
  WHERE t.term IN ({tl})
  GROUP BY part, doc_id, url, dl, t.term
),
tdf AS (SELECT part, term, count(*) AS df FROM tf GROUP BY part, term),
scored AS (
  SELECT tf.part, tf.doc_id, tf.url,
         round(sum(
           ln(1 + (s.n - tdf.df + 0.5) / (tdf.df + 0.5))
           * tf.tf * ({K1} + 1.0)
           / (tf.tf + {K1} * (1.0 - {B} + {B} * tf.dl / s.avgdl))
         ), {SCORE_DECIMALS}) * {boost} AS score
  FROM tf
  JOIN tdf ON tf.part = tdf.part AND tf.term = tdf.term
  JOIN stats s ON tf.part = s.part
  GROUP BY tf.part, tf.doc_id, tf.url
)
SELECT 'idx_' || part AS index_name, doc_id, url, score
FROM scored
ORDER BY score DESC, index_name ASC, doc_id ASC
LIMIT {k}
"""


def federated_topk_dfs(
    corpus: DataFrame,
    terms: list[str],
    k: int = 10,
    partition_col: str = "lang",
) -> DataFrame:
    """ES `search_type=dfs_query_then_fetch` over the index pattern:
    term/collection statistics are MERGED ACROSS ALL INDEXES before
    scoring (global N, global df, corpus-wide avgdl), so a doc's score
    no longer depends on which index holds it — the mode ES offers when
    per-index idf skew distorts cross-index ranking.  Output shape
    matches federated_topk: (index_name, doc_id, url, score), ties by
    index asc / doc_id asc.

    Scale shape: identical to the query_then_fetch plan minus the
    per-part keys on the stats aggregates — global stats/df are
    1-row/|q|-row aggregates crossed/broadcast in; still ONE plan, one
    tf shuffle, TakeOrdered merge."""
    # persisted-projection pattern (see federated_topk): GLOBAL stats/df
    # here — the aggregates just drop the per-part keys.
    rows, uniq, matched = _federated_rows(corpus, terms, partition_col)
    stats = rows.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(uniq))
        ],
    )
    scored = (
        _federated_candidates(rows, matched)
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "score", F.round(_federated_score(uniq, matched), SCORE_DECIMALS)
        )
    )
    return (
        scored.select(
            F.concat(F.lit("idx_"), F.col("part")).alias("index_name"),
            "doc_id", "url", "score",
        )
        .orderBy(F.desc("score"), F.asc("index_name"), F.asc("doc_id"))
        .limit(k)
    )


def federated_dfs_stats(
    indexes: dict[str, dict], terms: list[str]
) -> tuple[dict, float]:
    """The DFS phase: merge (N, avgdl, per-term df) across indexes
    driver-side — |indexes| tiny stat reads plus bucket-pruned term_dict
    lookups, no corpus-sized work — and return (idfs, avgdl) in the
    wand_topk stats_override shape."""
    from .wand import _index_stats, _term_dfs

    want = sorted(set(terms))
    total_n, total_len = 0, 0.0
    dfs: dict[str, int] = {}
    for name in sorted(indexes):
        idx = indexes[name]
        n, avgdl = _index_stats(idx)
        total_n += n
        total_len += n * avgdl
        for t, df in _term_dfs(idx, want).items():
            dfs[t] = dfs.get(t, 0) + df
    avgdl = (total_len / total_n) if total_n else 1.0
    idfs = {t: float(idf(total_n, df)) for t, df in dfs.items()}
    return idfs, avgdl


def federated_topk_dfs_indexed(
    indexes: dict[str, dict], terms: list[str], k: int = 10
) -> list[tuple]:
    """Serving path: DFS pre-phase merges stats, then each index runs the
    verified WAND kernel under stats_override; k-way merge.  Rank-
    identical to federated_topk_dfs over the same partitioning."""
    from .wand import wand_topk

    stats = federated_dfs_stats(indexes, terms)
    rows = []
    for name in sorted(indexes):
        for r in wand_topk(
            indexes[name], terms, k=k, stats_override=stats
        ).collect():
            rows.append((f"idx_{name}", r["doc_id"], r["score"]))
    rows.sort(key=lambda t: (-t[2], t[0], t[1]))
    return rows[:k]


def federated_topk_dfs_sql(
    terms: list[str], k: int = 10, partition_col: str = "lang"
) -> str:
    tl = ", ".join("'" + t.replace("'", "''") + "'" for t in sorted(set(terms)))
    return f"""
WITH {CORPUS_CTE.strip()},
base AS (
  SELECT {partition_col} AS part, doc_id, url,
         {DOC_LEN_SQL} AS dl,
         list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'),
                     t -> t <> '') AS toks
  FROM corpus
),
stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM base),
tf AS (
  SELECT part, doc_id, url, dl, t.term, count(*) AS tf
  FROM base, LATERAL (SELECT unnest(toks) AS term) t
  WHERE t.term IN ({tl})
  GROUP BY part, doc_id, url, dl, t.term
),
tdf AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.part, tf.doc_id, tf.url,
         round(sum(
           ln(1 + (s.n - tdf.df + 0.5) / (tdf.df + 0.5))
           * tf.tf * ({K1} + 1.0)
           / (tf.tf + {K1} * (1.0 - {B} + {B} * tf.dl / s.avgdl))
         ), {SCORE_DECIMALS}) AS score
  FROM tf
  JOIN tdf ON tf.term = tdf.term
  CROSS JOIN stats s
  GROUP BY tf.part, tf.doc_id, tf.url
)
SELECT 'idx_' || part AS index_name, doc_id, url, score
FROM scored
ORDER BY score DESC, index_name ASC, doc_id ASC
LIMIT {k}
"""
