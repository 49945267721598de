"""Compound ranked queries: BM25 terms + an exact phrase, scored together.

The ES analogue is a bool query mixing `match` clauses with a
`match_phrase` clause (the reference's search API issues `match` on text;
phrase support came from the same positional index).  Semantics here:

    score(d) = sum_{t in terms} bm25(t, d)
             + [phrase occurs in d] * bm25_pseudo(phrase, d)

with the phrase scored as a pseudo-term (phrase_tf = exact-adjacency
count, df_p = docs containing it — exactly query/phrase.py), a document
qualifying if it matches ANY term or the phrase (bool-should), and the
final score rounded once (SCORE_DECIMALS) for the deterministic
(score desc, doc_id asc) order.

Distributed shape: ONE postings scan for terms ∪ phrase-terms, one
per-salt kernel pass emitting (doc_id, tscore_raw, phrase_tf, dl) — then
the global stage is relational: df_p from the sentinel sum, phrase idf,
combined score, TakeOrdered top-k, broadcast url join.

Pruned on both clauses: phrase matching uses the rarest-first conjunctive
block pruning (phrase.py), and term ranking runs the block-max WAND
kernel with a salt-local top-(k + |phrase matches|) cut — sound because a
doc without the phrase can never gain the boost, so its final rank equals
its term rank, while every phrase doc passes through with exact
restricted-decode term sums.  Each salt emits O(k + phrase matches) rows,
not every matching doc.

Known emission caveat (deliberate): a STOP-PHRASE clause ("the fast"
where the phrase itself matches a large corpus fraction) emits all its
phrase matches — a salt-local score bound cannot prune them exactly,
because the phrase idf is only bracketed by [max member idf, idf(salt
count)] in-kernel and that bracket is loose precisely when the phrase is
common (the salt count badly underestimates the global df_p).
phrase_topk (no term clauses) does prune this case exactly — there the
idf is a common positive factor and ranking by the idf-free kernel g is
salt-locally decidable (phrase.py docstring); mixed term+phrase scores
lose that property.  Realistic compound queries carry selective phrases,
where the existing O(k + matches) bound is tight."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..corpus import CORPUS_CTE
from ..functions.tokenizer import TOKEN_SPLIT_RE
from .bm25 import B, K1, SCORE_DECIMALS, bm25_weight, idf
from .phrase import _phrase_counts_group, _pseudo_term_w
from .wand import (
    _collect_idfs,
    _decode,
    _filters_df,
    _in_sorted,
    _index_stats,
    _live_mask,
    _postings_for_terms,
    _salt_scored,
    _score_salt_group,
    _select,
    _with_urls,
)

_EMPTY = pd.DataFrame(
    {
        "doc_id": pd.Series([], dtype="int64"),
        "tscore": pd.Series([], dtype="float64"),
        "phrase_tf": pd.Series([], dtype="int64"),
        "dl": pd.Series([], dtype="int64"),
        "dfp_part": pd.Series([], dtype="int64"),
    }
)


def _term_sums_restricted(
    pdf: pd.DataFrame,
    idfs: dict[str, float],
    avgdl: float,
    doc_ids: np.ndarray,
) -> dict[int, float]:
    """Exact raw BM25 term sums for a SMALL sorted doc-id set: only blocks
    whose [first_doc_id, last_doc_id] range overlaps the set are decoded
    (metadata searchsorted — the same pruning shape as phrase matching)."""
    if doc_ids.size == 0:
        return {}
    ids_all, w_all = [], []
    for term, g in pdf.groupby("term", sort=False):
        idf = idfs.get(term)
        if idf is None:
            continue  # phrase-only term: not a scoring clause
        g = g.sort_values("block_id")
        firsts = g["first_doc_id"].to_numpy(np.int64)
        lasts = g["last_doc_id"].to_numpy(np.int64)
        lo = np.searchsorted(doc_ids, firsts, side="left")
        hi = np.searchsorted(doc_ids, lasts, side="right")
        g = g.loc[hi > lo]
        if g.empty:
            continue
        ids, tfs, dls = _decode(g)
        m = np.isin(ids, doc_ids)
        if not m.any():
            continue
        ids_all.append(ids[m])
        w_all.append(bm25_weight(tfs[m], dls[m], avgdl, idf))
    if not ids_all:
        return {}
    ids = np.concatenate(ids_all)
    ws = np.concatenate(w_all)
    order = np.argsort(ids, kind="stable")
    ids, ws = ids[order], ws[order]
    uniq, starts = np.unique(ids, return_index=True)
    sums = np.add.reduceat(ws, starts)
    return dict(zip(uniq.tolist(), sums.tolist()))


def _compound_group(
    pdf: pd.DataFrame,
    idfs: dict[str, float],
    avgdl: float,
    phrase: list[str],
    k: int,
    tombstones: np.ndarray | None = None,
    allowed: np.ndarray | None = None,
    slop: int = 0,
    decode_cache: dict | None = None,
) -> pd.DataFrame:
    """One salt's blocks -> the rows the global stage needs, WAND-pruned:

      * phrase matches come from the conjunctive-pruned positional kernel
        (every phrase doc, with exact restricted-decode term sums — a doc
        that matches the phrase may gain the boost, so it always passes);
      * non-phrase docs can NEVER gain the phrase boost, so their final
        order equals their term-score order — the block-max WAND top-k'
        (k' = k + |phrase docs|, covering the worst case where every WAND
        winner is also a phrase doc) is provably sufficient;
      * one sentinel row carries the per-salt phrase df.

    Emits O(k + phrase matches) rows per salt instead of every matching
    doc — the shuffle after the kernel no longer scales with df."""
    if pdf.empty:
        return _EMPTY.copy()
    ph = (
        _phrase_counts_group(
            pdf, phrase, tombstones=tombstones, slop=slop,
            decode_cache=decode_cache,
        )
        if phrase
        else _EMPTY[["doc_id", "phrase_tf", "dl"]].copy()
    )
    # phrase df counted on GLOBAL (tombstone-excluded) stats, BEFORE the
    # doc_filter mask: ES filter context restricts scored docs but never
    # changes idf (the contract documented in wand.py).  Shipped out of the
    # kernel as a per-salt sentinel row (doc_id = -1) so the global stage
    # can sum it without a second unfiltered aggregate pass.
    n_phrase = len(ph)
    p_ids = np.sort(ph["doc_id"].to_numpy(np.int64))
    p_tsums = _term_sums_restricted(pdf, idfs, avgdl, p_ids)

    pdf_terms = pdf.loc[pdf["term"].isin(list(idfs))]
    if idfs and not pdf_terms.empty:
        wand = _score_salt_group(
            pdf_terms,
            idfs,
            avgdl,
            k + int(p_ids.size),
            tombstones=tombstones,
            allowed=allowed,
            raw_scores=True,
        )
    else:  # phrase-only query: no term clauses to score
        wand = pd.DataFrame(
            {
                "doc_id": pd.Series([], dtype="int64"),
                "score": pd.Series([], dtype="float64"),
            }
        )
    if p_ids.size:
        wand = wand.loc[~np.isin(wand["doc_id"].to_numpy(np.int64), p_ids)]
    out = pd.DataFrame(
        {
            "doc_id": wand["doc_id"].to_numpy(np.int64),
            "tscore": wand["score"].to_numpy(np.float64),
            "phrase_tf": np.zeros(len(wand), dtype=np.int64),
            "dl": np.zeros(len(wand), dtype=np.int64),
        }
    )
    if n_phrase:
        prows = pd.DataFrame(
            {
                "doc_id": ph["doc_id"].to_numpy(np.int64),
                "tscore": np.array(
                    [p_tsums.get(int(d), 0.0) for d in ph["doc_id"]],
                    dtype=np.float64,
                ),
                "phrase_tf": ph["phrase_tf"].to_numpy(np.int64),
                "dl": ph["dl"].to_numpy(np.int64),
            }
        )
        if allowed is not None:
            prows = prows.loc[
                _in_sorted(
                    prows["doc_id"].to_numpy(np.int64),
                    np.asarray(allowed, dtype=np.int64),
                )
            ]
        out = pd.concat([out, prows], ignore_index=True)
    out = out.assign(dfp_part=np.int64(0)).astype(
        {
            "doc_id": "int64",
            "tscore": "float64",
            "phrase_tf": "int64",
            "dl": "int64",
            "dfp_part": "int64",
        }
    )
    sentinel = pd.DataFrame(
        {
            "doc_id": pd.Series([-1], dtype="int64"),
            "tscore": pd.Series([0.0], dtype="float64"),
            "phrase_tf": pd.Series([0], dtype="int64"),
            "dl": pd.Series([0], dtype="int64"),
            "dfp_part": pd.Series([n_phrase], dtype="int64"),
        }
    )
    return pd.concat([out, sentinel], ignore_index=True)


def _term_contrib_cached(
    by_term: dict,
    t: str,
    idf: float,
    avgdl: float,
    tomb: np.ndarray | None,
    tcache: dict,
):
    """Batch-shared full decode of one term's postings -> (ids, w).

    The wand_topk_batch pattern (wand.py:638-) brought to the compound
    kernel: each term's blocks are decoded ONCE per salt per batch and
    cached as per-doc raw BM25 contributions; every query (and both the
    top-k' scoring and the phrase-doc restricted sums, which previously
    each re-decoded the same bytes) then reduces cached arrays.
    Tombstones are applied at build time — the batch path has no
    per-query doc_filter, so the cache is safe to share."""
    if t in tcache:
        return tcache[t]
    g = by_term.get(t)
    if g is None:
        tcache[t] = None
        return None
    ids, tfs, dls = _decode(g.sort_values("block_id"))
    live = _live_mask(ids, tomb, None)
    if live is not None:
        ids, tfs, dls = ids[live], tfs[live], dls[live]
    tcache[t] = (ids, bm25_weight(tfs, dls, avgdl, idf))
    return tcache[t]


def _compound_group_cached(
    pdf: pd.DataFrame,
    by_term: dict,
    idfs: dict[str, float],
    avgdl: float,
    phrase: list[str],
    k: int,
    tomb: np.ndarray | None,
    slop: int,
    pos_cache: dict,
    tcache: dict,
    pos_block_cache: dict | None = None,
) -> pd.DataFrame:
    """_compound_group's batch twin: identical emission contract (top-k'
    non-phrase docs by the rounded-score/doc_id key — the same
    `np.lexsort((ids, -rounded))[:k']` selection _score_salt_group ends
    with — plus every phrase doc with exact term sums, plus the df_p
    sentinel), but ALL postings decodes go through the shared caches:
    positions via _phrase_counts_group's memo, term contributions via
    _term_contrib_cached.  Full accumulation replaces WAND skipping —
    rank-identical (pruning only ever drops provably-sub-top-k' docs)
    and the decode cost is already amortized across the batch."""
    if pdf.empty:
        return _EMPTY.copy()
    ph = (
        _phrase_counts_group(
            pdf, phrase, tombstones=tomb, slop=slop,
            decode_cache=pos_cache, block_cache=pos_block_cache,
        )
        if phrase
        else _EMPTY[["doc_id", "phrase_tf", "dl"]].copy()
    )
    n_phrase = len(ph)
    p_ids = np.sort(ph["doc_id"].to_numpy(np.int64))

    contribs = [
        c
        for c in (
            _term_contrib_cached(by_term, t, idf, avgdl, tomb, tcache)
            for t, idf in idfs.items()
        )
        if c is not None and c[0].size
    ]
    if contribs:
        all_ids = np.concatenate([c[0] for c in contribs])
        all_w = np.concatenate([c[1] for c in contribs])
        order = np.argsort(all_ids, kind="stable")
        all_ids, all_w = all_ids[order], all_w[order]
        uniq, starts = np.unique(all_ids, return_index=True)
        sums = np.add.reduceat(all_w, starts)
    else:
        uniq = np.array([], dtype=np.int64)
        sums = np.array([], dtype=np.float64)

    # exact restricted sums for the phrase docs (may gain the boost)
    if p_ids.size and uniq.size:
        pos = np.searchsorted(uniq, p_ids)
        pos[pos >= uniq.size] = 0
        hit = uniq[pos] == p_ids
        p_tsums = dict(
            zip(p_ids[hit].tolist(), sums[pos[hit]].tolist())
        )
    else:
        p_tsums = {}

    # top-k' among non-phrase docs, k' = k + |phrase docs| (see
    # _compound_group's sufficiency argument)
    if uniq.size:
        uniq, sums = _select(
            uniq, sums, k + int(p_ids.size), tombstones=p_ids, raw_scores=True
        )
    out = pd.DataFrame(
        {
            "doc_id": uniq,
            "tscore": sums,
            "phrase_tf": np.zeros(uniq.size, dtype=np.int64),
            "dl": np.zeros(uniq.size, dtype=np.int64),
        }
    )
    if n_phrase:
        prows = pd.DataFrame(
            {
                "doc_id": ph["doc_id"].to_numpy(np.int64),
                "tscore": np.array(
                    [p_tsums.get(int(d), 0.0) for d in ph["doc_id"]],
                    dtype=np.float64,
                ),
                "phrase_tf": ph["phrase_tf"].to_numpy(np.int64),
                "dl": ph["dl"].to_numpy(np.int64),
            }
        )
        out = pd.concat([out, prows], ignore_index=True)
    out = out.assign(dfp_part=np.int64(0)).astype(
        {
            "doc_id": "int64",
            "tscore": "float64",
            "phrase_tf": "int64",
            "dl": "int64",
            "dfp_part": "int64",
        }
    )
    sentinel = pd.DataFrame(
        {
            "doc_id": pd.Series([-1], dtype="int64"),
            "tscore": pd.Series([0.0], dtype="float64"),
            "phrase_tf": pd.Series([0], dtype="int64"),
            "dl": pd.Series([0], dtype="int64"),
            "dfp_part": pd.Series([n_phrase], dtype="int64"),
        }
    )
    return pd.concat([out, sentinel], ignore_index=True)


def compound_topk(
    index: dict,
    terms: list[str],
    phrase: list[str],
    k: int = 10,
    doc_filter: str | None = None,
    slop: int = 0,
) -> DataFrame:
    """Top-k (doc_id, url, score) for `terms` OR `phrase` (requires a
    positional index when phrase is non-empty).  `slop` relaxes the phrase
    clause to ordered proximity (phrase.py semantics)."""
    spark = index["doc_map"].sparkSession
    all_terms = sorted(set(terms) | set(phrase))
    idfs_all, avgdl = _collect_idfs(index, all_terms)
    empty = spark.createDataFrame([], "doc_id long, url string, score double")
    live_phrase = list(phrase) if all(t in idfs_all for t in phrase) else []
    idfs = {t: v for t, v in idfs_all.items() if t in set(terms)}
    if not idfs and not live_phrase:
        return empty
    scan_terms = sorted(set(idfs) | set(live_phrase))
    post = _postings_for_terms(index, scan_terms)
    filt = _filters_df(index, doc_filter)

    def kernel(pdf, tomb, allowed):
        return _compound_group(
            pdf, idfs, float(avgdl), live_phrase, k,
            tombstones=tomb, allowed=allowed, slop=slop,
        )

    partial = _salt_scored(
        post, filt, doc_filter is not None, kernel,
        "doc_id long, tscore double, phrase_tf long, dl long, dfp_part long",
    )
    n = _index_stats(index)[0]
    # phrase pseudo-term idf from the global PRE-doc_filter phrase df
    # (per-salt sentinel counts summed); scored rows exclude the
    # sentinels.  Window sum over the bounded post-kernel rows — an agg +
    # broadcast join re-executed the kernel subtree (phrase.py
    # score_pseudo_term rationale, r5).
    from pyspark.sql import Window as _W

    partial = partial.withColumn(
        "df_p", F.sum("dfp_part").over(_W.partitionBy())
    ).filter(F.col("doc_id") >= 0)
    phrase_w = F.when(
        F.col("phrase_tf") > 0, _pseudo_term_w(n, avgdl)
    ).otherwise(F.lit(0.0))
    scored = (
        partial
        .withColumn("score", F.round(F.col("tscore") + phrase_w, SCORE_DECIMALS))
        .select("doc_id", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )
    return _with_urls(index, scored)


def compound_topk_batch(
    index: dict,
    queries: dict[int, tuple[list[str], list[str]]],
    k: int = 10,
    slop: dict[int, int] | int = 0,
) -> DataFrame:
    """A batch of compound queries (terms, phrase) as ONE Spark job —
    the server pattern of wand_topk_batch / phrase_topk_batch.  Each
    query runs the same pruned _compound_group kernel per salt; the
    positional full-decode memo is shared across queries (a phrase term
    decoded completely by one query is free for the rest).  Per-query
    df_p rides the sentinels, so every query's phrase idf stays exact.

    Returns (query_id, doc_id, url, score), top-k per query, ordered."""
    spark = index["doc_map"].sparkSession
    if isinstance(slop, int):
        slops = {qid: int(slop) for qid in queries}
    else:
        slops = {qid: int(v) for qid, v in slop.items()}
    empty = spark.createDataFrame(
        [], "query_id int, doc_id long, url string, score double"
    )
    all_terms = sorted(
        {t for terms, ph in queries.values() for t in set(terms) | set(ph)}
    )
    if not all_terms:
        return empty
    idfs_all, avgdl = _collect_idfs(index, all_terms)
    plans: dict[int, tuple[dict[str, float], list[str]]] = {}
    for qid, (terms, ph) in queries.items():
        live_phrase = list(ph) if ph and all(t in idfs_all for t in ph) else []
        idfs = {t: idfs_all[t] for t in set(terms) if t in idfs_all}
        if idfs or live_phrase:
            plans[qid] = (idfs, live_phrase)
    if not plans:
        return empty
    scan_terms = sorted(
        {t for idfs, ph in plans.values() for t in set(idfs) | set(ph)}
    )
    post = _postings_for_terms(index, scan_terms)
    filt = _filters_df(index, None)
    n = index["_stats"][0]  # memoized by _collect_idfs

    def kernel(pdf: pd.DataFrame, tomb, allowed) -> pd.DataFrame:
        # Two shared caches per salt: positional decodes (phrase memo)
        # and per-term BM25 contributions — each (term, salt) payload is
        # decoded at most once for the whole batch, across queries AND
        # across the scoring/restricted-sum/phrase stages of one query.
        pos_cache: dict = {}
        pos_blocks: dict = {}
        tcache: dict = {}
        by_term = {t: g for t, g in pdf.groupby("term", sort=False)}
        outs = []
        for qid, (idfs, ph) in plans.items():
            part = _compound_group_cached(
                pdf, by_term, idfs, float(avgdl), ph, k,
                tomb, slops.get(qid, 0), pos_cache, tcache,
                pos_block_cache=pos_blocks,
            )
            part.insert(0, "query_id", np.int32(qid))
            outs.append(part)
        return pd.concat(outs, ignore_index=True)

    partial = _salt_scored(
        post, filt, False, kernel,
        "query_id int, doc_id long, tscore double, phrase_tf long, "
        "dl long, dfp_part long",
    )
    # per-query df_p via window sum over the bounded partial rows (the
    # score_pseudo_term rationale, r5: agg + broadcast join re-executed
    # the batch kernel subtree)
    from pyspark.sql import Window as _W2

    rows = partial.withColumn(
        "df_p", F.sum("dfp_part").over(_W2.partitionBy("query_id"))
    ).filter(F.col("doc_id") >= 0)
    phrase_w = F.when(
        F.col("phrase_tf") > 0, _pseudo_term_w(n, avgdl)
    ).otherwise(F.lit(0.0))
    scored = rows.withColumn(
        "score", F.round(F.col("tscore") + phrase_w, SCORE_DECIMALS)
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    topk = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "doc_id", "score")
    )
    return _with_urls(index, topk)


def compound_topk_batch_sql(
    specs: dict[int, tuple[list[str], list[str], int]], k: int = 10
) -> str:
    """DuckDB oracle: per-query compound oracle, query_id-tagged union."""
    parts = [
        f"SELECT {int(qid)} AS query_id, * FROM "
        f"({compound_topk_sql(terms, ph, k=k, slop=slop)})"
        for qid, (terms, ph, slop) in sorted(specs.items())
    ]
    return (
        "\nUNION ALL\n".join(parts)
        + "\nORDER BY query_id, score DESC, doc_id ASC"
    )


def compound_topk_sql(
    terms: list[str], phrase: list[str], k: int = 10, slop: int = 0
) -> str:
    """DuckDB oracle: relational BM25 term sums + tokenized phrase
    pseudo-term (exact adjacency, or greedy ordered proximity when
    slop>0), combined and rounded identically."""
    from .phrase import _slop_chain_expr

    tlist = ", ".join("'" + t.replace("'", "''") + "'" for t in sorted(set(terms)))
    # empty clause guards (batch specs may carry phrase-only or
    # terms-only queries): IN () is a parse error, and a zero-length
    # phrase can never match
    tpred = f"term IN ({tlist})" if tlist else "1 = 0"
    m = len(phrase)
    if m == 0:
        return _compound_sql_body(tpred, "0", "", k)
    if slop == 0:
        adj = " AND ".join(
            "toks[i+" + str(i) + "] = '" + t.replace("'", "''") + "'"
            for i, t in enumerate(phrase)
        )
        tf_expr = (
            f"len(list_filter(range(1, greatest(len(toks) - {m - 1}, 0) + 1),\n"
            f"             i -> {adj}))"
        )
        pos_cols = ""
    else:
        pos_cols = ",\n         " + ",\n         ".join(
            "list_filter(range(1, len(toks) + 1), x -> toks[x] = '"
            + t.replace("'", "''")
            + f"') AS pos{i}"
            for i, t in enumerate(phrase)
        )
        tf_expr = (
            f"len(list_filter(pos0, p -> {_slop_chain_expr(phrase, slop)}))"
        )
    return _compound_sql_body(tpred, tf_expr, pos_cols, k)


def _compound_sql_body(
    tpred: str, tf_expr: str, pos_cols: str, k: int = 10
) -> str:
    return f"""
WITH {CORPUS_CTE.strip()},
tokd AS (
  SELECT doc_id, url,
         list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'),
                     t -> t <> '') AS toks{pos_cols}
  FROM corpus
),
stats AS (SELECT count(*) AS n, avg(len(toks)) AS avgdl FROM tokd),
tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM tokd)
  WHERE {tpred}
  GROUP BY doc_id, term
),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
tsum AS (
  SELECT tf.doc_id,
         sum(ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))
             * tf.tf * ({K1} + 1.0)
             / (tf.tf + {K1} * (1.0 - {B}
                 + {B} * len(tokd.toks) / stats.avgdl))) AS tscore
  FROM tf
  JOIN df USING (term)
  JOIN tokd ON tokd.doc_id = tf.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
),
pcounts AS (
  SELECT doc_id, len(toks) AS dl,
         {tf_expr} AS phrase_tf
  FROM tokd
),
pmatch AS (SELECT * FROM pcounts WHERE phrase_tf > 0),
dfp AS (SELECT count(*) AS df_p FROM pmatch),
combined AS (
  SELECT coalesce(t.doc_id, p.doc_id) AS doc_id,
         coalesce(t.tscore, 0)
         + CASE WHEN p.doc_id IS NOT NULL THEN
             ln(1 + (stats.n - dfp.df_p + 0.5) / (dfp.df_p + 0.5))
             * p.phrase_tf * ({K1} + 1.0)
             / (p.phrase_tf + {K1} * (1.0 - {B} + {B} * p.dl / stats.avgdl))
           ELSE 0 END AS raw
  FROM tsum t
  FULL OUTER JOIN pmatch p ON t.doc_id = p.doc_id
  CROSS JOIN stats CROSS JOIN dfp
)
SELECT c.doc_id, tokd.url, round(c.raw, {SCORE_DECIMALS}) AS score
FROM combined c JOIN tokd ON tokd.doc_id = c.doc_id
ORDER BY score DESC, c.doc_id ASC
LIMIT {k}
"""


def compound_topk_local(
    index: dict,
    terms: list[str],
    phrase: list[str],
    k: int = 10,
    doc_filter: str | None = None,
    slop: int = 0,
) -> list[tuple]:
    """Low-latency compound path: driver-as-query-node (wand_topk_local's
    shape) — one pruned positional-block fetch (cached), then the exact
    same per-salt kernel logic runs in-process over the WHOLE index's
    blocks (blocks are self-contained, so the multi-salt mix is fine and
    df_p is simply the full phrase match count — no sentinel plumbing).

    Returns [(doc_id, score), ...] rank-identical to compound_topk."""
    from .phrase import _local_pos_blocks
    from .wand import _allowed_ids, _tomb_array

    all_terms = sorted(set(terms) | set(phrase))
    idfs_all, avgdl = _collect_idfs(index, all_terms)
    live_phrase = list(phrase) if all(t in idfs_all for t in phrase) else []
    idfs = {t: v for t, v in idfs_all.items() if t in set(terms)}
    if not idfs and not live_phrase:
        return []
    scan_terms = sorted(set(idfs) | set(live_phrase))
    pdf = _local_pos_blocks(index, scan_terms)
    if pdf is None:
        # some scan term has zero postings; drop the phrase (can't match)
        # and retry with scoring terms only
        if not idfs:
            return []
        pdf = _local_pos_blocks(index, sorted(idfs))
        if pdf is None:
            return []
        live_phrase = []
    tomb = _tomb_array(index)
    allowed = _allowed_ids(index, doc_filter)
    from .phrase import _local_pos_decoded, _pos_arrays, _trim_pos_decoded

    for t in set(live_phrase):
        _pos_arrays(index, t)  # resident full decodes: warm phrase clause
    partial = _compound_group(
        pdf, idfs, float(avgdl), live_phrase, k,
        tombstones=tomb, allowed=allowed, slop=slop,
        decode_cache=_local_pos_decoded(index),
    )
    _trim_pos_decoded(index)
    n = index["_stats"][0]  # memoized by _collect_idfs — no job in the loop
    df_p = int(partial["dfp_part"].sum())
    rows = partial.loc[partial["doc_id"] >= 0]
    tf = rows["phrase_tf"].to_numpy(np.float64)
    dl = rows["dl"].to_numpy(np.float64)
    # tf = 0 rows (term-only docs) get weight 0 exactly: 0 * ... / (K1 * norm)
    phrase_w = bm25_weight(tf, dl, float(avgdl), idf(n, df_p))
    ids, scores = _select(
        rows["doc_id"].to_numpy(np.int64),
        rows["tscore"].to_numpy(np.float64) + phrase_w,
        k,
    )
    return list(zip(ids.tolist(), scores.tolist()))
