"""Multi-field ranked retrieval — ES `multi_match` (most_fields) with
field boosts.

The reference's ES documents carry several searchable fields (message
text, sender/chat names — output/elasticsearch.py:60-75); ES multi_match
with most_fields scores each field with its own BM25 statistics and sums
the per-field scores, weighted by the field boost:

    score(d) = sum_f  w_f * sum_t  idf_{f,t} * tf_{f,t,d}*(k1+1)
               / (tf + k1*(1 - b + b*dl_f(d)/avgdl_f))

Each field gets its OWN inverted index (build_field_indexes), built with
the same document-salt partitioning — so every field's posting blocks for
one document land in the same salt, and one cogrouped kernel pass scores
all fields with zero cross-field shuffle.  Per-field statistics (df, N,
avgdl, dl) come from that field's own index; doc lengths are denormalized
into the blocks as usual, so the query touches only the query terms'
blocks in each field index.

Pruning: fields are folded into the standard MaxScore kernel
(_score_salt_group) by keying each posting group as field+term with a
per-key (idf, weight, avgdl) triple — every upper bound scales by the
field boost, so the theta-skipping stays exact across fields and a
boosted rare field prunes a heavy unboosted one exactly like a rare term
prunes a Zipf-head term in single-field WAND.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..corpus import CORPUS_CTE
from ..functions.tokenizer import TOKEN_SPLIT_RE
from ..index.build import build_index
from .bm25 import B, K1, SCORE_DECIMALS, bm25_weight, idf
from .wand import (
    _collect_idfs,
    _decode,
    _index_stats,
    _postings_for_terms,
    _score_salt_group,
    _select,
    _term_dfs,
    _topk_frame,
    _with_urls,
)

# field/term separator inside composite kernel keys; tokenizer terms are
# letter/number runs so \x1f can never occur in a term (field names must
# avoid it too)
_SEP = "\x1f"


def _multi_tf_kernel(field_names: list[str], with_pos: bool):
    """mapInPandas kernel: (doc_id, toks_0..toks_{F-1}) batches ->
    (field, term, doc_id, dl, tf[, pos_vb]) — the single-field tf kernel
    run once per field over the SAME Arrow batch, so every field's term
    frequencies come out of ONE corpus scan."""
    import pandas as pd

    from ..index.build import _tf_positions_kernel

    def fn(batches):
        for pdf in batches:
            for i, name in enumerate(field_names):
                sub = pd.DataFrame(
                    {"doc_id": pdf["doc_id"], "toks": pdf[f"toks_{i}"]}
                )
                for out in _tf_positions_kernel([sub], with_pos=with_pos):
                    out.insert(0, "field", name)
                    yield out

    return fn


def build_field_indexes(
    corpus: DataFrame,
    fields: dict[str, F.Column | str],
    n_doc_parts: int = 8,
    positions: bool = False,
) -> dict[str, dict]:
    """One index per searchable field, all sharing doc ids and the salt
    modulus (same corpus rows, same pmod(doc_id, P) layout).  `fields`
    maps field name -> column/expression holding that field's text.

    r6 shared-scan build: the per-field `build_index` calls each paid
    their own tokenize scan for tf AND another for doc_map — 2x|fields|
    full corpus scans.  Now ONE scan tokenizes every field through a
    combined tf kernel (persisted once; each field's tf_df is a cached
    filter of it) and ONE narrow scan carries every field's doc_len into
    a combined doc_map (ditto) — 2 scans total for any number of fields.
    Per-field tables are row-identical to the per-field build: the tf
    kernel runs unchanged per field sub-batch, and every downstream
    consumer (term_dict agg, the salted encode repartition, stats) is
    insensitive to row order.  The combined frames are SHARED across the
    returned dicts — unpersisting one field's ``_cached`` (write_index
    does, at the end) drops the shared cache for its siblings too, which
    only ever costs recompute, never correctness."""
    from pyspark import StorageLevel

    from ..functions.tokenizer import tokens
    from ..index.build import build_postings, term_dict

    names = list(fields)
    cols = [
        (F.col(c) if isinstance(c, str) else c) for c in fields.values()
    ]
    schema = "field string, term string, doc_id long, dl int, tf long" + (
        ", pos_vb binary" if positions else ""
    )
    combined_tf = (
        corpus.select(
            "doc_id",
            *[tokens(c).alias(f"toks_{i}") for i, c in enumerate(cols)],
        )
        .mapInPandas(_multi_tf_kernel(names, positions), schema)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    dm_all = corpus.select(
        "doc_id",
        "url",
        "lang",
        "warc_ts",
        *[
            F.size(tokens(c)).cast("int").alias(f"dl_{i}")
            for i, c in enumerate(cols)
        ],
    ).persist(StorageLevel.MEMORY_AND_DISK)

    out = {}
    for i, name in enumerate(names):
        tf_f = combined_tf.filter(F.col("field") == name).drop("field")
        dm_f = dm_all.select(
            "doc_id", "url", "lang", "warc_ts",
            F.col(f"dl_{i}").alias("doc_len"),
        )
        td_f = term_dict(tf_f).persist(StorageLevel.MEMORY_AND_DISK)
        out[name] = {
            "doc_map": dm_f,
            "term_dict": td_f,
            "postings": build_postings(tf_f, n_doc_parts=n_doc_parts),
            "stats": dm_f.agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.avg("doc_len").alias("avgdl"),
                F.sum("doc_len").alias("total_tokens"),
            ),
            "_n_doc_parts": n_doc_parts,
            "_positions": bool(positions),
            "_cached": [dm_all, combined_tf, td_f],
            "_tf": tf_f,
            # write_index materialization hints: counting dm_all / tf_f
            # fills the shared caches the per-field frames derive from
            "_mat": {"dm": dm_all, "tf": tf_f, "td": td_f},
        }
    return out


def multi_match_topk(
    field_indexes: dict[str, dict],
    weights: dict[str, float],
    terms: list[str],
    k: int = 10,
) -> DataFrame:
    """Top-k (doc_id, url, score) of the field-boosted most_fields sum.

    One postings scan per field (each pruned by its own term_bucket
    layout), one union keyed as field+term, ONE groupBy(salt) run of the
    standard MaxScore kernel with per-key (idf, boost, avgdl) — per-field
    stats are collected driver-side (|fields| x |terms| scalars) and
    closed over."""
    first = next(iter(field_indexes.values()))
    spark = first["doc_map"].sparkSession
    empty = spark.createDataFrame([], "doc_id long, url string, score double")

    key_idfs: dict[str, float] = {}
    key_weights: dict[str, float] = {}
    key_avgdls: dict[str, float] = {}
    parts = []
    cols = [
        "salt", "term", "block_id", "n_docs", "first_doc_id", "last_doc_id",
        "block_max_tf", "doc_gaps", "tf_bytes", "dl_bytes",
    ]
    for name, idx in field_indexes.items():
        idfs, avgdl = _collect_idfs(idx, terms)
        w = float(weights.get(name, 1.0))
        for t, idf in idfs.items():
            key = name + _SEP + t
            key_idfs[key] = idf
            key_weights[key] = w
            key_avgdls[key] = float(avgdl)
        if idfs:
            parts.append(
                _postings_for_terms(idx, list(idfs))
                .select(*cols)
                .withColumn(
                    "term", F.concat(F.lit(name + _SEP), F.col("term"))
                )
            )
    if not parts:
        return empty
    post = parts[0]
    for p in parts[1:]:
        post = post.unionByName(p)

    local = post.groupBy("salt").applyInPandas(
        lambda pdf: _score_salt_group(
            pdf, key_idfs, 0.0, k,
            weights=key_weights, avgdls=key_avgdls,
        ),
        "doc_id long, score double",
    )
    return _with_urls(
        first, local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    )


def _sql_quote_terms(terms: list[str]) -> str:
    return ", ".join("'" + t.replace("'", "''") + "'" for t in terms)


def multi_match_sql(
    terms: list[str],
    k: int = 10,
    w_text: float = 1.0,
    w_url: float = 2.0,
) -> str:
    """DuckDB oracle for the registered two-field shape: fields `text`
    (boost w_text) and `url` (boost w_url, tokenized with the SAME
    tokenizer — scheme/host/path pieces become terms)."""
    terms_sql = _sql_quote_terms(terms)

    def field_ctes(fld: str, src_expr: str) -> str:
        return f"""
toks_{fld} AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower({src_expr}),
             '{TOKEN_SPLIT_RE}'), t -> t <> '')) AS term
  FROM corpus
),
dl_{fld} AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(lower({src_expr}),
             '{TOKEN_SPLIT_RE}'), t -> t <> '')) AS doc_len
  FROM corpus
),
stats_{fld} AS (SELECT count(*) AS n, avg(doc_len) AS avgdl FROM dl_{fld}),
tf_{fld} AS (
  SELECT doc_id, term, count(*) AS tf FROM toks_{fld}
  WHERE term IN ({terms_sql}) GROUP BY doc_id, term
),
df_{fld} AS (SELECT term, count(*) AS df FROM tf_{fld} GROUP BY term),
sc_{fld} AS (
  SELECT tf.doc_id,
         sum(
           ln(1 + (s.n - df.df + 0.5) / (df.df + 0.5))
           * tf.tf * ({K1} + 1.0)
           / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / s.avgdl))
         ) AS raw
  FROM tf_{fld} tf
  JOIN dl_{fld} dl ON tf.doc_id = dl.doc_id
  JOIN df_{fld} df ON tf.term = df.term
  CROSS JOIN stats_{fld} s
  GROUP BY tf.doc_id
)"""

    return f"""
WITH {CORPUS_CTE.strip()},{field_ctes("text", "text")},{field_ctes("url", "url")},
combined AS (
  SELECT coalesce(t.doc_id, u.doc_id) AS doc_id,
         round({w_text} * coalesce(t.raw, 0) + {w_url} * coalesce(u.raw, 0),
               {SCORE_DECIMALS}) AS score
  FROM sc_text t FULL OUTER JOIN sc_url u ON t.doc_id = u.doc_id
)
SELECT c.doc_id, corpus.url, c.score
FROM combined c JOIN corpus ON c.doc_id = corpus.doc_id
ORDER BY c.score DESC, c.doc_id ASC
LIMIT {k}
"""


def dis_max_topk(
    field_indexes: dict[str, dict],
    boosts: dict[str, float],
    terms: list[str],
    k: int = 10,
) -> DataFrame:
    """ES `dis_max` / multi_match(best_fields) with tie_breaker=0 (the ES
    default): score(d) = max over fields of w_f * BM25_f(d) — the BEST
    field wins instead of summing (most_fields).

    Exactness of the per-field top-k union: if doc d belongs to the
    global dis_max top-k via best field f, fewer than k docs out-score it
    in field f (each of those has dis_max >= its f-score > d's), so d is
    inside field f's own top-k.  Hence the candidate set = union of the
    per-field WAND top-k lists (<= |fields|*k rows, driver-scale), and
    each candidate's winning score is already on its row — a max_by hash
    agg over F*k rows, no rescoring pass.  (tie_breaker > 0 would need
    the runner-up field scores of every candidate — the summing kernel's
    job — and is intentionally not offered on this path.)"""
    from .wand import wand_topk

    parts = []
    for name, idx in field_indexes.items():
        w = float(boosts.get(name, 1.0))
        parts.append(
            wand_topk(idx, terms, k=k).select(
                "doc_id",
                "url",
                F.round(F.col("score") * w, SCORE_DECIMALS).alias("fs"),
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    best = F.max_by(F.struct("fs", "url"), F.struct("fs", "url"))
    return (
        u.groupBy("doc_id")
        .agg(best.alias("b"))
        .select("doc_id", F.col("b.url").alias("url"), F.col("b.fs").alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(int(k))
    )


def dis_max_sql(
    terms: list[str],
    k: int = 10,
    w_text: float = 1.0,
    w_url: float = 2.0,
) -> str:
    """DuckDB oracle for the registered two-field dis_max shape — same
    per-field BM25 CTEs as multi_match_sql, greatest() instead of the
    weighted sum."""
    terms_sql = _sql_quote_terms(terms)

    def field_ctes(fld: str, src_expr: str) -> str:
        return f"""
toks_{fld} AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower({src_expr}),
             '{TOKEN_SPLIT_RE}'), t -> t <> '')) AS term
  FROM corpus
),
dl_{fld} AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(lower({src_expr}),
             '{TOKEN_SPLIT_RE}'), t -> t <> '')) AS doc_len
  FROM corpus
),
stats_{fld} AS (SELECT count(*) AS n, avg(doc_len) AS avgdl FROM dl_{fld}),
tf_{fld} AS (
  SELECT doc_id, term, count(*) AS tf FROM toks_{fld}
  WHERE term IN ({terms_sql}) GROUP BY doc_id, term
),
df_{fld} AS (SELECT term, count(*) AS df FROM tf_{fld} GROUP BY term),
sc_{fld} AS (
  SELECT tf.doc_id,
         sum(
           ln(1 + (s.n - df.df + 0.5) / (df.df + 0.5))
           * tf.tf * ({K1} + 1.0)
           / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / s.avgdl))
         ) AS raw
  FROM tf_{fld} tf
  JOIN dl_{fld} dl ON tf.doc_id = dl.doc_id
  JOIN df_{fld} df ON tf.term = df.term
  CROSS JOIN stats_{fld} s
  GROUP BY tf.doc_id
)"""

    return f"""
WITH {CORPUS_CTE.strip()},{field_ctes("text", "text")},{field_ctes("url", "url")},
combined AS (
  SELECT coalesce(t.doc_id, u.doc_id) AS doc_id,
         greatest(
           CASE WHEN t.doc_id IS NULL THEN NULL
                ELSE round({w_text} * t.raw, {SCORE_DECIMALS}) END,
           CASE WHEN u.doc_id IS NULL THEN NULL
                ELSE round({w_url} * u.raw, {SCORE_DECIMALS}) END
         ) AS score
  FROM sc_text t FULL OUTER JOIN sc_url u ON t.doc_id = u.doc_id
)
SELECT c.doc_id, corpus.url, c.score
FROM combined c JOIN corpus ON c.doc_id = corpus.doc_id
ORDER BY c.score DESC, c.doc_id ASC
LIMIT {k}
"""


def combined_fields_topk(
    field_indexes: dict[str, dict],
    weights: dict[str, float],
    terms: list[str],
    k: int = 10,
) -> DataFrame:
    """ES `combined_fields` query (Lucene CombinedFieldQuery, the
    principled BM25F): fields are merged into ONE pseudo-field BEFORE
    saturation —

        tf'(t,d)  = sum_f  w_f * tf_f(t,d)
        dl'(d)    = sum_f  w_f * dl_f(d)
        avgdl'    = sum_f  w_f * avgdl_f          (linearity of the mean)
        df'(t)    = min(N, sum_f df_f(t))          (Lucene's merged stats)
        score(d)  = sum_t idf(df'_t) * tf' * (k1+1)
                    / (tf' + k1 * (1 - b + b * dl'/avgdl'))

    This differs from multi_match most_fields (which saturates per field
    and sums SCORES): a term split across fields saturates once, so
    spreading matches over fields is not over-rewarded.

    Distributed shape: per-field postings union (each scan pruned by its
    own term buckets), ONE cogrouped per-salt kernel; dl' comes from a
    doc-values side slice (the joined field doc_maps — at real scale
    this projection is materialized once per field-set, like ES
    doc_values, not per query).  Merged df'/avgdl' are |q|+|f| scalars
    collected driver-side.  Combining tf before saturation breaks the
    per-term score upper bound MaxScore needs, so the kernel runs full
    accumulation (exact) — candidate work is still bounded by the query
    terms' postings."""
    import numpy as np
    import pandas as pd

    from .wand import _n_parts

    first = next(iter(field_indexes.values()))
    spark = first["doc_map"].sparkSession
    empty = spark.createDataFrame([], "doc_id long, url string, score double")
    tset = sorted(set(terms))

    # merged stats (driver-side scalars)
    n_docs = None
    avgdl_c = 0.0
    df_sum: dict[str, int] = {}
    field_w: dict[str, float] = {}
    per_field_dfs: dict[str, dict[str, int]] = {}
    for name, idx in field_indexes.items():
        n_f, avgdl_f = _index_stats(idx)
        n_docs = n_f if n_docs is None else n_docs
        w = float(weights.get(name, 1.0))
        field_w[name] = w
        avgdl_c += w * avgdl_f
        per_field_dfs[name] = _term_dfs(idx, tset)
        for t, df in per_field_dfs[name].items():
            df_sum[t] = df_sum.get(t, 0) + df
    live = sorted(t for t in tset if df_sum.get(t))
    if not live or not n_docs:
        return empty
    idfs_c = {
        t: float(idf(n_docs, min(n_docs, d))) for t, d in df_sum.items() if d
    }

    cols = [
        "salt", "term", "block_id", "n_docs", "first_doc_id", "last_doc_id",
        "block_max_tf", "doc_gaps", "tf_bytes", "dl_bytes",
    ]
    parts = []
    for name, idx in field_indexes.items():
        f_live = [t for t in live if t in per_field_dfs[name]]
        if not f_live:
            continue
        parts.append(
            _postings_for_terms(idx, f_live)
            .select(*cols)
            .withColumn("term", F.concat(F.lit(name + _SEP), F.col("term")))
        )
    post = parts[0]
    for p in parts[1:]:
        post = post.unionByName(p)

    # doc-values side: (doc_id, dl') — weighted sum of field doc lengths
    dl_expr = None
    side = None
    for name, idx in field_indexes.items():
        dm = idx["doc_map"].select(
            "doc_id", F.col("doc_len").alias(f"dl_{name}")
        )
        side = dm if side is None else side.join(dm, "doc_id")
    dl_expr = sum(
        F.col(f"dl_{name}") * F.lit(field_w[name]) for name in field_indexes
    )
    side = side.select(
        "doc_id", dl_expr.alias("dlc"),
        F.pmod(F.col("doc_id"), F.lit(_n_parts(first))).cast("int").alias("salt"),
    )

    avgdl_const = float(avgdl_c)

    def kernel(post_pdf: pd.DataFrame, side_pdf: pd.DataFrame) -> pd.DataFrame:
        sv_ids = side_pdf["doc_id"].to_numpy(np.int64)
        sv_dl = side_pdf["dlc"].to_numpy(np.float64)
        order = np.argsort(sv_ids)
        sv_ids, sv_dl = sv_ids[order], sv_dl[order]

        acc_ids = np.array([], dtype=np.int64)
        acc_sc = np.array([], dtype=np.float64)
        # group blocks by BARE term; fields within a term merge tf first
        bare = post_pdf["term"].str.split(_SEP).str[-1]
        fld = post_pdf["term"].str.split(_SEP).str[0]
        for t, g in post_pdf.groupby(bare, sort=False):
            t_ids = np.array([], dtype=np.int64)
            t_tfc = np.array([], dtype=np.float64)
            for fname, fg in g.groupby(fld.loc[g.index], sort=False):
                ids, tfs, _dls = _decode(fg.sort_values("block_id"))
                t_ids = np.concatenate([t_ids, ids])
                t_tfc = np.concatenate([t_tfc, field_w[fname] * tfs])
            o = np.argsort(t_ids, kind="stable")
            t_ids, t_tfc = t_ids[o], t_tfc[o]
            uniq, starts = np.unique(t_ids, return_index=True)
            tfc = np.add.reduceat(t_tfc, starts)
            pos = np.searchsorted(sv_ids, uniq)
            pos[pos >= sv_ids.size] = 0
            wgt = bm25_weight(tfc, sv_dl[pos], avgdl_const, idfs_c[t])
            all_ids = np.concatenate([acc_ids, uniq])
            all_sc = np.concatenate([acc_sc, wgt])
            o2 = np.argsort(all_ids, kind="stable")
            u2, s2 = np.unique(all_ids[o2], return_index=True)
            acc_ids, acc_sc = u2, np.add.reduceat(all_sc[o2], s2)
        return _topk_frame(*_select(acc_ids, acc_sc, k))

    local = (
        post.groupBy("salt")
        .cogroup(side.groupBy("salt"))
        .applyInPandas(kernel, "doc_id long, score double")
    )
    return _with_urls(
        first, local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    )


def combined_fields_sql(
    terms: list[str],
    k: int = 10,
    w_text: float = 1.0,
    w_url: float = 2.0,
) -> str:
    """DuckDB oracle for the registered two-field combined_fields shape
    (fields text/url, same tokenizer)."""
    terms_sql = _sql_quote_terms(sorted(set(terms)))

    def tok_ctes(fld: str, src_expr: str) -> str:
        return f"""
toks_{fld} AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower({src_expr}),
             '{TOKEN_SPLIT_RE}'), t -> t <> '')) AS term
  FROM corpus
),
dl_{fld} AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(lower({src_expr}),
             '{TOKEN_SPLIT_RE}'), t -> t <> '')) AS doc_len
  FROM corpus
),
tf_{fld} AS (
  SELECT doc_id, term, count(*) AS tf FROM toks_{fld}
  WHERE term IN ({terms_sql}) GROUP BY doc_id, term
),
df_{fld} AS (SELECT term, count(*) AS df FROM tf_{fld} GROUP BY term)"""

    return f"""
WITH {CORPUS_CTE.strip()},{tok_ctes("text", "text")},{tok_ctes("url", "url")},
n AS (SELECT count(*) AS n FROM corpus),
avgdlc AS (
  SELECT {w_text} * (SELECT avg(doc_len) FROM dl_text)
       + {w_url} * (SELECT avg(doc_len) FROM dl_url) AS v
),
dfc AS (
  SELECT coalesce(t.term, u.term) AS term,
         least((SELECT n FROM n),
               coalesce(t.df, 0) + coalesce(u.df, 0)) AS df
  FROM df_text t FULL OUTER JOIN df_url u ON t.term = u.term
),
tfc AS (
  SELECT coalesce(t.doc_id, u.doc_id) AS doc_id,
         coalesce(t.term, u.term) AS term,
         {w_text} * coalesce(t.tf, 0) + {w_url} * coalesce(u.tf, 0) AS tfc
  FROM tf_text t
  FULL OUTER JOIN tf_url u ON t.doc_id = u.doc_id AND t.term = u.term
),
dlc AS (
  SELECT t.doc_id, {w_text} * t.doc_len + {w_url} * u.doc_len AS dlc
  FROM dl_text t JOIN dl_url u ON t.doc_id = u.doc_id
),
scored AS (
  SELECT tfc.doc_id,
         round(sum(
           ln(1 + ((SELECT n FROM n) - dfc.df + 0.5) / (dfc.df + 0.5))
           * tfc.tfc * ({K1} + 1.0)
           / (tfc.tfc + {K1} * (1.0 - {B}
              + {B} * dlc.dlc / (SELECT v FROM avgdlc)))
         ), {SCORE_DECIMALS}) AS score
  FROM tfc
  JOIN dlc ON tfc.doc_id = dlc.doc_id
  JOIN dfc ON tfc.term = dfc.term
  GROUP BY tfc.doc_id
)
SELECT s.doc_id, corpus.url, s.score
FROM scored s JOIN corpus ON s.doc_id = corpus.doc_id
ORDER BY s.score DESC, s.doc_id ASC
LIMIT {k}
"""


def cross_fields_topk(
    field_indexes: dict[str, dict],
    terms: list[str],
    k: int = 10,
    tie_breaker: float = 0.0,
    weights: dict[str, float] | None = None,
) -> DataFrame:
    """ES `multi_match` type=cross_fields (Lucene BlendedTermQuery): the
    TERM-centric blend — each term is scored against every field with a
    BLENDED document frequency (df_b = max_f df_f, so a term common in
    one field cannot look rare in another), then per document the
    per-term score is the best field's score plus `tie_breaker` times
    the rest:

        s_f(t,d) = w_f * idf(df_b(t)) * tf_f*(k1+1)
                   / (tf_f + k1*(1 - b + b*dl_f/avgdl_f))
        s(t,d)   = max_f s_f + tie_breaker * (sum_f s_f - max_f s_f)
        score(d) = sum_t s(t,d)

    Contrast: most_fields sums whole per-field scores (field-centric);
    combined_fields merges tf BEFORE saturation; cross_fields blends the
    STATISTICS and dis-maxes per term — ES's answer to "first/last name
    split across fields" queries.

    Distributed shape: per-field postings union keyed field+term (each
    scan pruned by its own term buckets), ONE groupBy(salt) kernel, full
    accumulation (the per-term max across fields breaks the additive
    upper bound MaxScore needs — same trade combined_fields makes);
    candidate work stays bounded by the query terms' postings.  Blended
    idfs are |q| driver scalars.

    Reference analogue: ES multi_match over the message/sender fields
    (output/elasticsearch.py:60-75)."""
    import numpy as np
    import pandas as pd

    weights = weights or {}
    first = next(iter(field_indexes.values()))
    spark = first["doc_map"].sparkSession
    empty = spark.createDataFrame([], "doc_id long, url string, score double")
    tset = sorted(set(terms))

    n_docs = None
    df_blend: dict[str, int] = {}
    per_field_dfs: dict[str, dict[str, int]] = {}
    field_w: dict[str, float] = {}
    field_avgdl: dict[str, float] = {}
    for name, idx in field_indexes.items():
        n_f, avgdl_f = _index_stats(idx)
        n_docs = n_f if n_docs is None else n_docs
        field_w[name] = float(weights.get(name, 1.0))
        field_avgdl[name] = float(avgdl_f)
        per_field_dfs[name] = _term_dfs(idx, tset)
        for t, df in per_field_dfs[name].items():
            df_blend[t] = max(df_blend.get(t, 0), df)
    live = sorted(t for t in tset if df_blend.get(t))
    if not live or not n_docs:
        return empty
    idfs_b = {t: float(idf(n_docs, d)) for t, d in df_blend.items() if d}

    cols = [
        "salt", "term", "block_id", "n_docs", "first_doc_id", "last_doc_id",
        "block_max_tf", "doc_gaps", "tf_bytes", "dl_bytes",
    ]
    parts = []
    for name, idx in field_indexes.items():
        f_live = [t for t in live if t in per_field_dfs[name]]
        if not f_live:
            continue
        parts.append(
            _postings_for_terms(idx, f_live)
            .select(*cols)
            .withColumn("term", F.concat(F.lit(name + _SEP), F.col("term")))
        )
    post = parts[0]
    for p in parts[1:]:
        post = post.unionByName(p)

    tb = float(tie_breaker)

    def kernel(post_pdf: pd.DataFrame) -> pd.DataFrame:
        # per BARE term: decode each field's postings, dis-max per doc
        per_term: dict[str, list[tuple[np.ndarray, np.ndarray]]] = {}
        for key, g in post_pdf.groupby("term", sort=False):
            fname, t = key.split(_SEP, 1)
            ids, tfs, dls = _decode(g.sort_values("block_id"))
            w = field_w[fname] * bm25_weight(
                tfs, dls, field_avgdl[fname], idfs_b[t]
            )
            per_term.setdefault(t, []).append((ids, w))
        all_ids: list[np.ndarray] = []
        all_sc: list[np.ndarray] = []
        # deterministic term order so the float sum over terms is stable
        for t in sorted(per_term):
            pts = per_term[t]
            ids = np.concatenate([p[0] for p in pts])
            sc = np.concatenate([p[1] for p in pts])
            o = np.argsort(ids, kind="stable")
            ids, sc = ids[o], sc[o]
            uniq, starts = np.unique(ids, return_index=True)
            sums = np.add.reduceat(sc, starts)
            maxs = np.maximum.reduceat(sc, starts)
            all_ids.append(uniq)
            all_sc.append(maxs + tb * (sums - maxs))
        ids = np.concatenate(all_ids)
        sc = np.concatenate(all_sc)
        o = np.argsort(ids, kind="stable")
        ids, sc = ids[o], sc[o]
        uniq, starts = np.unique(ids, return_index=True)
        return _topk_frame(*_select(uniq, np.add.reduceat(sc, starts), k))

    local = post.groupBy("salt").applyInPandas(
        kernel, "doc_id long, score double"
    )
    return _with_urls(
        first, local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    )


def cross_fields_sql(
    terms: list[str],
    k: int = 10,
    tie_breaker: float = 0.0,
    w_text: float = 1.0,
    w_url: float = 2.0,
) -> str:
    """DuckDB oracle for the registered two-field cross_fields shape
    (fields text/url, same tokenizer).  Scores are strictly positive, so
    the per-term dis-max over a FULL OUTER join coalesces misses to 0."""
    terms_sql = _sql_quote_terms(sorted(set(terms)))

    def field_ctes(fld: str, src_expr: str) -> str:
        return f"""
toks_{fld} AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower({src_expr}),
             '{TOKEN_SPLIT_RE}'), t -> t <> '')) AS term
  FROM corpus
),
dl_{fld} AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(lower({src_expr}),
             '{TOKEN_SPLIT_RE}'), t -> t <> '')) AS doc_len
  FROM corpus
),
stats_{fld} AS (SELECT avg(doc_len) AS avgdl FROM dl_{fld}),
tf_{fld} AS (
  SELECT doc_id, term, count(*) AS tf FROM toks_{fld}
  WHERE term IN ({terms_sql}) GROUP BY doc_id, term
),
df_{fld} AS (SELECT term, count(*) AS df FROM tf_{fld} GROUP BY term)"""

    def score_cte(fld: str, w: float) -> str:
        return f"""
s_{fld} AS (
  SELECT tf.doc_id, tf.term,
         {w} * ln(1 + ((SELECT count(*) FROM corpus) - b.df + 0.5)
                  / (b.df + 0.5))
         * tf.tf * ({K1} + 1.0)
         / (tf.tf + {K1} * (1.0 - {B}
            + {B} * dl.doc_len / (SELECT avgdl FROM stats_{fld}))) AS s
  FROM tf_{fld} tf
  JOIN dl_{fld} dl ON tf.doc_id = dl.doc_id
  JOIN df_b b ON tf.term = b.term
)"""

    return f"""
WITH {CORPUS_CTE.strip()},{field_ctes("text", "text")},{field_ctes("url", "url")},
df_b AS (
  SELECT coalesce(t.term, u.term) AS term,
         greatest(coalesce(t.df, 0), coalesce(u.df, 0)) AS df
  FROM df_text t FULL OUTER JOIN df_url u ON t.term = u.term
),{score_cte("text", w_text)},{score_cte("url", w_url)},
per_term AS (
  SELECT coalesce(t.doc_id, u.doc_id) AS doc_id,
         greatest(coalesce(t.s, 0), coalesce(u.s, 0))
         + {tie_breaker} * (coalesce(t.s, 0) + coalesce(u.s, 0)
             - greatest(coalesce(t.s, 0), coalesce(u.s, 0))) AS ts
  FROM s_text t
  FULL OUTER JOIN s_url u ON t.doc_id = u.doc_id AND t.term = u.term
),
scored AS (
  SELECT doc_id, round(sum(ts), {SCORE_DECIMALS}) AS score
  FROM per_term GROUP BY doc_id
)
SELECT s.doc_id, corpus.url, s.score
FROM scored s JOIN corpus ON s.doc_id = corpus.doc_id
ORDER BY s.score DESC, s.doc_id ASC
LIMIT {k}
"""
