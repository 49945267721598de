"""ES `sparse_vector` query — learned-sparse (ELSER-style) retrieval.

A sparse query vector is a {token: weight} map; the score is the weighted
sum of the stored per-document token weights for the matching tokens.
This engine's stored token weight is the BM25 tf-saturation
`tf_sat(tf, dl) = tf(K1+1)/(tf + K1(1-B+B*dl/avgdl))` — monotone in tf,
length-normalized, computed from the SAME posting blocks the term queries
read (no second index).  So

    score(doc) = sum_t  w_t * tf_sat(tf_t(doc), dl(doc))

which is EXACTLY the WAND kernel's score algebra with the query weight in
the idf slot — the verified MaxScore kernel serves sparse vectors through
`stats_override` with zero new kernel code, and its pruning bounds remain
exact because every weight is required positive (ES rejects non-positive
sparse-vector weights too).

Reference analogue: the reference delegates ranking to ES
(output/elasticsearch.py); sparse_vector is ES 8.15's learned-sparse
query over the same inverted index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..corpus import CORPUS_CTE
from ..functions.tokenizer import DOC_LEN_SQL, TOKEN_SPLIT_RE, tokens
from .bm25 import B, K1, SCORE_DECIMALS, bm25_weight


def _check_weights(weights: dict[str, float]) -> dict[str, float]:
    w = {t: float(v) for t, v in weights.items()}
    bad = [t for t, v in w.items() if not v > 0.0]
    if bad:
        raise ValueError(
            f"sparse_vector weights must be positive (ES contract; also "
            f"what keeps MaxScore upper bounds valid): {sorted(bad)}"
        )
    return w


def sparse_vector_topk(
    index: dict, weights: dict[str, float], k: int = 10
) -> DataFrame:
    """Top-k (doc_id, url, score) for a sparse query vector, served by the
    compressed index through the verified WAND/MaxScore kernel (weights
    ride the stats_override seam in the idf slot)."""
    from .wand import _collect_idfs, wand_topk

    w = _check_weights(weights)
    _, avgdl = _collect_idfs(index, [])  # memoized global stats only
    return wand_topk(
        index, sorted(w), k=k, stats_override=(w, avgdl)
    )


def sparse_vector_topk_relational(
    corpus: DataFrame, weights: dict[str, float], k: int = 10
) -> DataFrame:
    """Relational contract: same score from the raw corpus (one tokenize,
    one tf agg, broadcast weight map) — the identity check for the
    index-served path and the registered driver pair."""
    w = _check_weights(weights)
    base = corpus.select(
        "doc_id", "url", tokens("text").alias("toks")
    ).select(
        "doc_id", "url", F.size("toks").alias("dl"), F.col("toks")
    )
    stats = base.agg(F.avg("dl").alias("avgdl"))
    tf = (
        base.select("doc_id", "url", "dl", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(sorted(w)))
        .groupBy("doc_id", "url", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    wexpr = F.lit(None).cast("double")
    for t, v in sorted(w.items()):
        wexpr = F.when(F.col("term") == t, F.lit(v)).otherwise(wexpr)
    return (
        tf.crossJoin(F.broadcast(stats))
        .withColumn(
            "contrib",
            bm25_weight(F.col("tf"), F.col("dl"), F.col("avgdl"), wexpr),
        )
        .groupBy("doc_id", "url")
        .agg(F.round(F.sum("contrib"), SCORE_DECIMALS).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(int(k))
    )


def sparse_vector_topk_sql(weights: dict[str, float], k: int = 10) -> str:
    w = _check_weights(weights)
    tl = ", ".join("'" + t.replace("'", "''") + "'" for t in sorted(w))
    wcase = (
        "CASE tf.term "
        + " ".join(
            f"WHEN '{t.replace(chr(39), chr(39) * 2)}' THEN {v!r}"
            for t, v in sorted(w.items())
        )
        + " END"
    )
    return f"""
WITH {CORPUS_CTE.strip()},
base AS (
  SELECT doc_id, url, {DOC_LEN_SQL} AS dl,
         list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'),
                     t -> t <> '') AS toks
  FROM corpus
),
stats AS (SELECT avg(dl) AS avgdl FROM base),
tf AS (
  SELECT doc_id, url, dl, t.term, count(*) AS tf
  FROM base, LATERAL (SELECT unnest(toks) AS term) t
  WHERE t.term IN ({tl})
  GROUP BY doc_id, url, dl, t.term
)
SELECT tf.doc_id, tf.url,
       round(sum(
         ({wcase}) * tf.tf * ({K1} + 1.0)
         / (tf.tf + {K1} * (1.0 - {B} + {B} * tf.dl / s.avgdl))
       ), {SCORE_DECIMALS}) AS score
FROM tf CROSS JOIN stats s
GROUP BY tf.doc_id, tf.url
ORDER BY score DESC, doc_id ASC
LIMIT {int(k)}
"""


def sparse_vector_topk_local(
    index: dict, weights: dict[str, float], k: int = 10
) -> list:
    """Query-node twin: the wand hot-shard cache scores the sparse vector
    in-process (weights via stats_override).  [(doc_id, score)], rank-
    identical to sparse_vector_topk."""
    from .wand import _collect_idfs, wand_topk_local

    w = _check_weights(weights)
    _, avgdl = _collect_idfs(index, [])
    return wand_topk_local(
        index, sorted(w), k=k, stats_override=(w, avgdl)
    )


# --- ES 8.13 weighted_tokens query (token pruning) ---------------------------

DEFAULT_FREQ_RATIO_THRESHOLD = 5.0
DEFAULT_WEIGHT_THRESHOLD = 0.4


def _prune_tokens(
    weights: dict[str, float],
    df_map: dict[str, int],
    avg_df: float,
    ratio_threshold: float,
    weight_threshold: float,
) -> tuple[dict[str, float], dict[str, float]]:
    """ES TokenPruningConfig: a token is pruned only when BOTH its
    document-frequency ratio df(t)/avg_df exceeds
    `tokens_freq_ratio_threshold` AND its query weight is below
    `tokens_weight_threshold` (keep = low-frequency OR significant
    weight).  Unknown tokens have df 0 -> ratio 0 -> always kept."""
    kept: dict[str, float] = {}
    pruned: dict[str, float] = {}
    for t, v in weights.items():
        ratio = (df_map.get(t, 0) / avg_df) if avg_df else 0.0
        if ratio > float(ratio_threshold) and v < float(weight_threshold):
            pruned[t] = v
        else:
            kept[t] = v
    return kept, pruned


def weighted_tokens_topk_relational(
    corpus: DataFrame,
    weights: dict[str, float],
    ratio_threshold: float = DEFAULT_FREQ_RATIO_THRESHOLD,
    weight_threshold: float = DEFAULT_WEIGHT_THRESHOLD,
    only_score_pruned_tokens: bool = False,
    k: int = 10,
) -> DataFrame:
    """ES 8.13 `weighted_tokens` query with `pruning_config` — the
    sparse_vector score over the SURVIVING tokens only.

    Pruning drops tokens that are both corpus-frequent (df ratio above
    `tokens_freq_ratio_threshold` x the average df of all field tokens)
    and query-insignificant (weight below `tokens_weight_threshold`) —
    the high-df/low-weight postings that dominate scan cost while
    barely moving scores.  `only_score_pruned_tokens=True` is the ES
    rescore leg: score exactly the complement set.

    The pruning decision needs |query| dfs + one scalar (the average
    field df) — driver-bounded, like the WAND idf collect; the scoring
    plan is then exactly the verified sparse_vector plan over fewer
    tokens.  Empty surviving set returns an empty frame (match none).
    """
    from ..functions.tokenizer import tokens as _tok

    w = _check_weights(weights)
    toks = corpus.select(
        "doc_id", F.array_distinct(_tok("text")).alias("toks")
    ).select("doc_id", F.explode("toks").alias("term"))
    dfs = toks.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # |query|-row collect + one scalar: the same bounded driver state the
    # WAND path collects for idfs.
    qdf = {
        r["term"]: r["df"]
        for r in dfs.filter(F.col("term").isin(sorted(w))).collect()
    }
    avg_df = dfs.agg(F.avg("df").alias("a")).collect()[0]["a"] or 0.0
    kept, pruned = _prune_tokens(
        w, qdf, avg_df, ratio_threshold, weight_threshold
    )
    chosen = pruned if only_score_pruned_tokens else kept
    if not chosen:
        spark = corpus.sparkSession
        return spark.createDataFrame(
            [], "doc_id bigint, url string, score double"
        )
    return sparse_vector_topk_relational(corpus, chosen, k=k)


def _index_prune(
    index: dict,
    weights: dict[str, float],
    ratio_threshold: float,
    weight_threshold: float,
    only_score_pruned_tokens: bool,
) -> dict[str, float]:
    """Shared driver-side pruning against the dictionary statistics:
    |q| df lookups + the dictionary-wide average df (memoized on the
    index handle — it is a build-time constant)."""
    w = _check_weights(weights)
    td = index["term_dict"]
    qrows = td.filter(F.col("term").isin(sorted(w))).select("term", "df")
    qdf = {r["term"]: r["df"] for r in qrows.collect()}
    avg_df = index.get("_avg_df_memo")
    if avg_df is None:
        avg_df = td.agg(F.avg("df").alias("a")).collect()[0]["a"] or 0.0
        index["_avg_df_memo"] = avg_df
    kept, pruned = _prune_tokens(
        w, qdf, avg_df, ratio_threshold, weight_threshold
    )
    return pruned if only_score_pruned_tokens else kept


def weighted_tokens_topk(
    index: dict,
    weights: dict[str, float],
    ratio_threshold: float = DEFAULT_FREQ_RATIO_THRESHOLD,
    weight_threshold: float = DEFAULT_WEIGHT_THRESHOLD,
    only_score_pruned_tokens: bool = False,
    k: int = 10,
) -> DataFrame:
    """Index-served weighted_tokens: dfs come straight from term_dict
    (no corpus scan at all — the dictionary IS the field statistics),
    pruning happens on the driver, and the surviving tokens ride the
    verified WAND/MaxScore kernel via stats_override."""
    from .wand import _collect_idfs, wand_topk

    chosen = _index_prune(
        index, weights, ratio_threshold, weight_threshold,
        only_score_pruned_tokens,
    )
    if not chosen:
        spark = index["term_dict"].sparkSession
        return spark.createDataFrame(
            [], "doc_id bigint, url string, score double"
        )
    _, avgdl = _collect_idfs(index, [])
    return wand_topk(index, sorted(chosen), k=k, stats_override=(chosen, avgdl))


def weighted_tokens_topk_local(
    index: dict,
    weights: dict[str, float],
    ratio_threshold: float = DEFAULT_FREQ_RATIO_THRESHOLD,
    weight_threshold: float = DEFAULT_WEIGHT_THRESHOLD,
    only_score_pruned_tokens: bool = False,
    k: int = 10,
) -> list:
    """Query-node twin: same dictionary-stats pruning, survivors scored
    by the wand hot-shard cache.  [(doc_id, score)], rank-identical to
    weighted_tokens_topk."""
    from .wand import _collect_idfs, wand_topk_local

    chosen = _index_prune(
        index, weights, ratio_threshold, weight_threshold,
        only_score_pruned_tokens,
    )
    if not chosen:
        return []
    _, avgdl = _collect_idfs(index, [])
    return wand_topk_local(
        index, sorted(chosen), k=k, stats_override=(chosen, avgdl)
    )


def weighted_tokens_topk_sql(
    weights: dict[str, float],
    ratio_threshold: float = DEFAULT_FREQ_RATIO_THRESHOLD,
    weight_threshold: float = DEFAULT_WEIGHT_THRESHOLD,
    only_score_pruned_tokens: bool = False,
    k: int = 10,
) -> str:
    w = _check_weights(weights)
    tl = ", ".join("'" + t.replace("'", "''") + "'" for t in sorted(w))
    qw_rows = ", ".join(
        f"('{t.replace(chr(39), chr(39) * 2)}', {v!r})"
        for t, v in sorted(w.items())
    )
    cond = (
        f"(COALESCE(dfs.df, 0) / avgdf.a > {float(ratio_threshold)!r} "
        f"AND qw.w < {float(weight_threshold)!r})"
    )
    keep_where = cond if only_score_pruned_tokens else f"NOT {cond}"
    return f"""
WITH {CORPUS_CTE.strip()},
base AS (
  SELECT doc_id, url, {DOC_LEN_SQL} AS dl,
         list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'),
                     t -> t <> '') AS toks
  FROM corpus
),
ex AS (SELECT doc_id, unnest(list_distinct(toks)) AS term FROM base),
dfs AS (SELECT term, count(*) AS df FROM ex GROUP BY term),
avgdf AS (SELECT avg(df) AS a FROM dfs),
qw(term, w) AS (VALUES {qw_rows}),
kept AS (
  SELECT qw.term, qw.w
  FROM qw LEFT JOIN dfs ON qw.term = dfs.term CROSS JOIN avgdf
  WHERE {keep_where}
),
stats AS (SELECT avg(dl) AS avgdl FROM base),
tf AS (
  SELECT doc_id, url, dl, t.term, count(*) AS tf
  FROM base, LATERAL (SELECT unnest(toks) AS term) t
  WHERE t.term IN ({tl})
  GROUP BY doc_id, url, dl, t.term
)
SELECT tf.doc_id, tf.url,
       round(sum(
         kept.w * tf.tf * ({K1} + 1.0)
         / (tf.tf + {K1} * (1.0 - {B} + {B} * tf.dl / s.avgdl))
       ), {SCORE_DECIMALS}) AS score
FROM tf JOIN kept ON tf.term = kept.term CROSS JOIN stats s
GROUP BY tf.doc_id, tf.url
ORDER BY score DESC, doc_id ASC
LIMIT {int(k)}
"""
