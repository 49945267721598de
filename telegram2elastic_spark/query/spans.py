"""ES span queries over the positional index: `span_first` and
`span_near(in_order=false)`.

The reference gets positional queries from Elasticsearch; phrase.py owns
the ordered variants (match_phrase / slop).  This module adds the two
span shapes a phrase cannot express:

`span_first_topk(term, end)` — the term must occur within the first
`end` tokens of the document (ES span_first wrapping a span_term; `end`
bounds the span's END position, so a 1-based occurrence position p
qualifies iff p <= end).  tf = number of qualifying occurrences.

`span_near_topk(terms, slop)` — all member terms co-occur inside a
window of `len(terms) + slop` tokens in ANY order (ES span_near with
in_order=false).  Window anchors are every occurrence position of every
member term; an anchor p matches iff each member has an occurrence q
with p <= q < p + m + slop.  tf = number of matching anchors — a
deterministic sloppy-frequency the DuckDB oracle reproduces exactly
(Lucene's own sloppy_freq weights each match by 1/(slop+1); the anchor
count is this engine's pinned-down analogue).  Match detection is exact:
any co-occurrence of width <= m + slop makes its minimal position a
matching anchor.

Both score as a pseudo-term: df_s = global count of matching docs
(exact, via per-salt sentinel counts — phrase.py's df_p machinery), and
the usual BM25 tf saturation.  Bounded emission reuses the phrase band
argument verbatim: a span match requires every member term, so df_s <=
min member df and idf_s >= max member idf — the per-salt top-k + tie
band by the idf-free kernel g never drops a global top-k doc.

Scale shape identical to phrase_topk: postings pruned to member terms
(partition pruning + pushed IN), one per-salt kernel pass, O(P*k)
post-kernel shuffle, k-row broadcast url join.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..corpus import CORPUS_CTE
from ..functions.tokenizer import TOKEN_SPLIT_RE
from .bm25 import SCORE_DECIMALS, TIE_BAND, idf
from .phrase import (
    _bounded_emit,
    _decode_term_blocks,
    _EMPTY_COUNTS,
    score_pseudo_term,
)
from .wand import _filters_df, _index_stats, _postings_for_terms, _salt_scored


def _span_first_counts(
    pdf: pd.DataFrame, term: str, end: int, tombstones: np.ndarray | None
) -> pd.DataFrame:
    groups = {t: g.sort_values("block_id") for t, g in pdf.groupby("term", sort=False)}
    if term not in groups:
        return _EMPTY_COUNTS.copy()
    ids, dls, pos = _decode_term_blocks(term, groups[term])
    # stored positions are 0-based token offsets; the contract's 1-based
    # occurrence position p qualifies iff p <= end  <=>  0-based < end
    tf = np.fromiter(
        ((p < end).sum() for p in pos), dtype=np.int64, count=len(pos)
    )
    keep = tf > 0
    ids, tf, dls = ids[keep], tf[keep], dls[keep]
    if tombstones is not None and tombstones.size:
        live = ~np.isin(ids, tombstones)
        ids, tf, dls = ids[live], tf[live], dls[live]
    return pd.DataFrame({"doc_id": ids, "phrase_tf": tf, "dl": dls})


def _span_near_counts(
    pdf: pd.DataFrame,
    terms: list[str],
    slop: int,
    tombstones: np.ndarray | None,
    dl_label: str | None = None,
) -> pd.DataFrame:
    from .phrase import _gather_keyed

    groups = {t: g.sort_values("block_id") for t, g in pdf.groupby("term", sort=False)}
    uniq_terms = sorted(set(terms))
    if any(t not in groups for t in uniq_terms):
        return _EMPTY_COUNTS.copy()
    # rarest-first conjunctive candidate intersection (metadata order)
    by_rarity = sorted(uniq_terms, key=lambda t: int(groups[t]["n_docs"].sum()))
    per_term: dict[str, tuple] = {}
    common: np.ndarray | None = None
    for t in by_rarity:
        g = groups[t]
        if common is not None:
            firsts = g["first_doc_id"].to_numpy(np.int64)
            lasts = g["last_doc_id"].to_numpy(np.int64)
            lo = np.searchsorted(common, firsts, side="left")
            hi = np.searchsorted(common, lasts, side="right")
            g = g.loc[hi > lo]
            if g.empty:
                return _EMPTY_COUNTS.copy()
        ids, dls, pos = _decode_term_blocks(t, g)
        per_term[t] = (ids, dls, pos)
        common = ids if common is None else np.intersect1d(common, ids)
        if tombstones is not None and tombstones.size:
            common = common[~np.isin(common, tombstones)]
        if common.size == 0:
            return _EMPTY_COUNTS.copy()

    w = len(terms) + int(slop)  # window width in tokens
    # anchors: keyed union of every member's positions in candidate docs
    keyed_by_term = {}
    for t in uniq_terms:
        ids_t, _, pos_t = per_term[t]
        keyed_by_term[t], _ = _gather_keyed(ids_t, pos_t, common)
    anchors = np.unique(np.concatenate(list(keyed_by_term.values())))
    ok = np.ones(anchors.shape, dtype=bool)
    for t in uniq_terms:
        keyed_t = np.sort(keyed_by_term[t])
        # member occurrence q with anchor <= q < anchor + w; keys stay
        # inside the candidate slot because w << _DOC_KEY
        idx = np.searchsorted(keyed_t, anchors, side="left")
        has = idx < keyed_t.size
        cand = keyed_t[np.minimum(idx, keyed_t.size - 1)]
        ok &= has & (cand < anchors + w)
        if not ok.any():
            return _EMPTY_COUNTS.copy()
    from .phrase import _DOC_KEY

    cand_idx = (anchors[ok] // _DOC_KEY).astype(np.int64)
    uniq_c, starts = np.unique(cand_idx, return_index=True)
    tf = np.diff(np.append(starts, cand_idx.size)).astype(np.int64)
    # dl source: any member works in the single-field shapes (same doc,
    # same field => same dl); field_masking_span pins it to the primary
    # clause via dl_label (common is a subset of every member's ids, so
    # the lookup always hits)
    t0 = dl_label if dl_label is not None else by_rarity[0]
    ids0, dls0, _ = per_term[t0]
    dl_idx = np.searchsorted(ids0, common[uniq_c])
    return pd.DataFrame(
        {
            "doc_id": common[uniq_c],
            "phrase_tf": tf,
            "dl": dls0[dl_idx],
        }
    )


def _run_span(
    index: dict,
    terms: list[str],
    k: int,
    counts_fn,
    required: list[str] | None = None,
    band: float | None = None,
    need_positions: bool = True,
) -> DataFrame:
    """`required` = terms that must have postings for any match to exist
    (default: all of `terms` — the conjunctive span shapes); span_not's
    exclude term and span_or's optional members are scanned but not
    required.  `band` overrides the default emission tie band — needed
    when the pseudo-term's idf lower bound is NOT max(member idfs)
    (span_or: df_or can exceed every member df)."""
    from .wand import _collect_idfs

    spark = index["doc_map"].sparkSession
    empty = spark.createDataFrame([], "doc_id long, url string, score double")
    idfs, _ = _collect_idfs(index, sorted(set(terms)))
    req = set(terms) if required is None else set(required)
    if any(t not in idfs for t in req) or not idfs:
        return empty
    if band is None:
        band = TIE_BAND / max(idfs[t] for t in (req or set(idfs)))
    post = _postings_for_terms(index, sorted(set(terms)))
    if not need_positions and "pos_bytes" in post.columns:
        post = post.drop("pos_bytes")
    n, avgdl = _index_stats(index)

    def kernel(pdf: pd.DataFrame, tombstones, _allowed) -> pd.DataFrame:
        counts = counts_fn(pdf, tombstones)
        return _bounded_emit(counts, len(counts), k, band, avgdl)

    partial = _salt_scored(
        post, _filters_df(index, None), False, kernel,
        "doc_id long, phrase_tf long, dl long, dfp_part long",
    )
    return score_pseudo_term(index, partial, k, float(n), avgdl)


def span_first_topk(index: dict, term: str, end: int, k: int = 10) -> DataFrame:
    """Top-k docs where `term` occurs within the first `end` tokens
    (module docstring).  Requires positions=True at build."""
    return _run_span(
        index, [term], k, lambda pdf, t: _span_first_counts(pdf, term, end, t)
    )


def span_near_topk(
    index: dict, terms: list[str], slop: int = 0, k: int = 10
) -> DataFrame:
    """Top-k docs where all `terms` co-occur within a `len(terms)+slop`
    token window in any order (module docstring)."""
    return _run_span(
        index, terms, k,
        lambda pdf, t: _span_near_counts(pdf, terms, slop, t),
    )


def _pseudo_score_sql(tf_expr: str, k: int) -> str:
    from .bm25 import B, K1

    return f"""
stats AS (SELECT count(*) AS n, avg(len(toks)) AS avgdl FROM tokd),
counts AS (
  SELECT doc_id, url, len(toks) AS dl,
         {tf_expr} AS phrase_tf
  FROM tokd
),
matched AS (SELECT * FROM counts WHERE phrase_tf > 0),
dfp AS (SELECT count(*) AS df_p FROM matched)
SELECT m.doc_id, m.url,
       round(
         ln(1 + (stats.n - dfp.df_p + 0.5) / (dfp.df_p + 0.5))
         * m.phrase_tf * ({K1} + 1.0)
         / (m.phrase_tf + {K1} * (1.0 - {B} + {B} * m.dl / stats.avgdl)),
         {SCORE_DECIMALS}) AS score
FROM matched m CROSS JOIN stats CROSS JOIN dfp
ORDER BY score DESC, m.doc_id ASC
LIMIT {k}
"""


def span_first_sql(term: str, end: int, k: int = 10) -> str:
    t = term.replace("'", "''")
    tf = (
        f"len(list_filter(range(1, len(toks) + 1), "
        f"p -> p <= {int(end)} AND toks[p] = '{t}'))"
    )
    return f"""
WITH {CORPUS_CTE.strip()},
tokd AS (
  SELECT doc_id, url,
         list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'),
                     t -> t <> '') AS toks
  FROM corpus
),
{_pseudo_score_sql(tf, k)}"""


def span_near_sql(terms: list[str], slop: int = 0, k: int = 10) -> str:
    uniq = sorted(set(terms))
    w = len(terms) + int(slop)
    pos_defs = ",\n         ".join(
        "list_filter(range(1, len(toks) + 1), x -> toks[x] = '"
        + t.replace("'", "''")
        + f"') AS pos{i}"
        for i, t in enumerate(uniq)
    )
    anchors = "list_sort(list_distinct(" + (
        " || ".join(f"pos{i}" for i in range(len(uniq)))
    ) + "))"
    member_ok = " AND ".join(
        f"len(list_filter(pos{i}, q -> q >= p AND q < p + {w})) > 0"
        for i in range(len(uniq))
    )
    tf = f"len(list_filter({anchors}, p -> {member_ok}))"
    return f"""
WITH {CORPUS_CTE.strip()},
tokd AS (
  SELECT doc_id, url,
         list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'),
                     t -> t <> '') AS toks,
         {pos_defs}
  FROM corpus
),
{_pseudo_score_sql(tf, k)}"""


# --- span_or / span_not -------------------------------------------------------


def _span_or_counts(
    pdf: pd.DataFrame, terms: list[str], tombstones: np.ndarray | None
) -> pd.DataFrame:
    """tf-only decode: the union tf is the SUM of member tfs, which the
    non-positional payload already carries — positions are never decoded
    (nor shipped: _run_span(need_positions=False) drops pos_bytes before
    the Arrow transfer), so span_or costs the same as a WAND term scan."""
    from ..index.codec import decode_many

    groups = {t: g.sort_values("block_id") for t, g in pdf.groupby("term", sort=False)}
    present = [t for t in sorted(set(terms)) if t in groups]
    if not present:
        return _EMPTY_COUNTS.copy()
    all_ids, all_tf, all_dl = [], [], []
    for t in present:
        g = groups[t]
        ids, tf, dls = decode_many(
            [bytes(x) for x in g["doc_gaps"]],
            [bytes(x) for x in g["tf_bytes"]],
            [bytes(x) for x in g["dl_bytes"]],
            g["n_docs"].to_numpy(),
        )
        ids = ids.astype(np.int64)
        tf = tf.astype(np.int64)
        dls = dls.astype(np.int64)
        all_ids.append(ids)
        all_tf.append(tf)
        all_dl.append(dls)
    ids = np.concatenate(all_ids)
    tf = np.concatenate(all_tf)
    dl = np.concatenate(all_dl)
    order = np.argsort(ids, kind="stable")
    ids, tf, dl = ids[order], tf[order], dl[order]
    uniq, starts = np.unique(ids, return_index=True)
    sums = np.add.reduceat(tf, starts)
    dls = dl[starts]
    if tombstones is not None and tombstones.size:
        live = ~np.isin(uniq, tombstones)
        uniq, sums, dls = uniq[live], sums[live], dls[live]
    return pd.DataFrame({"doc_id": uniq, "phrase_tf": sums, "dl": dls})


def _span_not_counts(
    pdf: pd.DataFrame,
    include: str,
    exclude: str,
    pre: int,
    post: int,
    tombstones: np.ndarray | None,
) -> pd.DataFrame:
    groups = {t: g.sort_values("block_id") for t, g in pdf.groupby("term", sort=False)}
    if include not in groups:
        return _EMPTY_COUNTS.copy()
    ids, dls, pos = _decode_term_blocks(include, groups[include])
    if exclude in groups:
        # fully vectorized (no per-doc python loop — span_not runs over
        # Zipf-head include terms): flatten every include occurrence to
        # a doc-slot key, build the exclude occurrences in the SAME slot
        # space, and window-test all occurrences with two searchsorteds.
        from .phrase import _DOC_KEY, _gather_keyed

        keyed_inc, lens_inc = _gather_keyed(ids, pos, ids)
        xids, _, xpos = _decode_term_blocks(exclude, groups[exclude])
        idxs = np.searchsorted(xids, ids)
        idxs_c = np.minimum(idxs, max(xids.size - 1, 0))
        has = (idxs < xids.size) & (xids[idxs_c] == ids)
        empty = np.array([], dtype=np.int64)
        sel = [
            np.asarray(xpos[j], dtype=np.int64) if h else empty
            for j, h in zip(idxs_c, has)
        ]
        xlens = np.fromiter(
            (a.size for a in sel), dtype=np.int64, count=len(sel)
        )
        if xlens.sum():
            xflat = np.concatenate(sel)
            xbases = np.repeat(
                np.arange(len(ids), dtype=np.int64) * _DOC_KEY, xlens
            )
            keyed_exc = np.sort(xflat + xbases)
        else:
            keyed_exc = empty
        slot = keyed_inc // _DOC_KEY
        low = np.maximum(keyed_inc - pre, slot * _DOC_KEY)
        high = np.minimum(keyed_inc + post, (slot + 1) * _DOC_KEY - 1)
        ok = (
            np.searchsorted(keyed_exc, high, side="right")
            == np.searchsorted(keyed_exc, low, side="left")
        )
        starts = np.zeros(len(ids), dtype=np.int64)
        np.cumsum(lens_inc[:-1], out=starts[1:])
        tf = np.add.reduceat(ok, starts) if ok.size else np.zeros(
            len(ids), dtype=np.int64
        )
        tf = tf.astype(np.int64)
    else:
        tf = np.fromiter(
            (len(p) for p in pos), dtype=np.int64, count=len(pos)
        )
    keep = tf > 0
    ids, tf, dls = ids[keep], tf[keep], dls[keep]
    if tombstones is not None and tombstones.size:
        live = ~np.isin(ids, tombstones)
        ids, tf, dls = ids[live], tf[live], dls[live]
    return pd.DataFrame({"doc_id": ids, "phrase_tf": tf, "dl": dls})


def span_or_topk(index: dict, terms: list[str], k: int = 10) -> DataFrame:
    """ES `span_or`: docs containing ANY member term, scored as ONE
    pseudo-term whose tf is the total occurrence count across members
    (position-union semantics) and whose df is the exact union doc
    count.  This differs from the WAND disjunction, which scores each
    term with its own idf and sums.

    Emission band: df_or can EXCEED every member df (union), so the
    pseudo-idf may be lower than any member's — the band divides by the
    idf at the driver-computable upper bound df_or <= min(n, sum member
    dfs), recovered from the cached member idfs by inverting the idf
    formula (exact algebra, no extra Spark job)."""
    from .wand import _collect_idfs

    idfs, _ = _collect_idfs(index, sorted(set(terms)))
    if not idfs:
        spark = index["doc_map"].sparkSession
        return spark.createDataFrame([], "doc_id long, url string, score double")
    n = float(index["_stats"][0])
    # invert idf -> df:  r = e^idf - 1 = (n - df + .5)/(df + .5)
    dfs = [
        (n + 0.5 - 0.5 * r) / (r + 1.0)
        for r in (np.expm1(i) for i in idfs.values())
    ]
    df_ub = min(n, sum(dfs))
    band = TIE_BAND / float(idf(n, df_ub))
    return _run_span(
        index, sorted(set(terms)), k,
        lambda pdf, t: _span_or_counts(pdf, terms, t),
        required=[], band=band, need_positions=False,
    )


def span_not_topk(
    index: dict,
    include: str,
    exclude: str,
    pre: int = 0,
    post: int = 0,
    k: int = 10,
) -> DataFrame:
    """ES `span_not`: occurrences of `include` that are NOT within
    [p - pre, p + post] tokens of any `exclude` occurrence; docs keep
    only the surviving occurrences as tf (docs with none drop out).
    `exclude` is scanned but not required — a corpus without it makes
    span_not degrade to the plain span_term.  Band bound: every match
    needs `include`, so df_s <= df_include and the include-idf band is
    provably safe."""
    return _run_span(
        index, sorted({include, exclude}), k,
        lambda pdf, t: _span_not_counts(pdf, include, exclude, pre, post, t),
        required=[include],
    )


def span_multi_topk(
    index: dict,
    prefix: str | None = None,
    wildcard: str | None = None,
    k: int = 10,
    max_expansions: int = 64,
) -> DataFrame:
    """ES `span_multi`: a multi-term query (prefix or wildcard) wrapped
    for span context.  Lucene rewrites the wrapper to a span_or over the
    dictionary expansions — position-union semantics, ONE pseudo-term
    score — which is exactly this engine's span_or, so the rewrite is a
    driver-side term-dict expansion (sorted-dict pruned, capped at
    max_expansions in term order) feeding span_or_topk.  Differs from
    prefix_topk/wildcard_topk, whose scoring_boolean rewrite scores each
    expansion with its OWN idf and sums."""
    from .expand import expand_prefix, expand_wildcard

    if (prefix is None) == (wildcard is None):
        raise ValueError("span_multi takes exactly one of prefix/wildcard")
    terms = (
        expand_prefix(index, prefix, max_expansions)
        if prefix is not None
        else expand_wildcard(index, wildcard, max_expansions)
    )
    if not terms:
        spark = index["doc_map"].sparkSession
        return spark.createDataFrame([], "doc_id long, url string, score double")
    return span_or_topk(index, terms, k=k)


def span_multi_sql(
    prefix: str | None = None,
    wildcard: str | None = None,
    k: int = 10,
    max_expansions: int = 64,
) -> str:
    """Oracle: the expansion set is computed IN SQL from the corpus
    vocabulary (the term dictionary IS the distinct vocabulary), then the
    span_or pseudo-term scoring applies with tf = total occurrences of
    any expanded term."""
    from .expand import wildcard_regex

    if (prefix is None) == (wildcard is None):
        raise ValueError("span_multi takes exactly one of prefix/wildcard")
    if prefix is not None:
        esc = (
            prefix.replace("\\", "\\\\").replace("%", "\\%").replace("_", "\\_")
        )
        pred = f"term LIKE '{esc.replace(chr(39), chr(39) * 2)}%' ESCAPE '\\'"
    else:
        rx = wildcard_regex(wildcard).replace("'", "''")
        pred = f"regexp_matches(term, '{rx}')"
    tf = "len(list_filter(toks, t -> list_contains(qts, t)))"
    return f"""
WITH {CORPUS_CTE.strip()},
tokd0 AS (
  SELECT doc_id, url,
         list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'),
                     t -> t <> '') AS toks
  FROM corpus
),
vocab AS (SELECT DISTINCT unnest(toks) AS term FROM tokd0),
qterms AS (
  SELECT term FROM vocab WHERE {pred} ORDER BY term LIMIT {int(max_expansions)}
),
qlist AS (SELECT list(term) AS qts FROM qterms),
tokd AS (SELECT doc_id, url, toks, qts FROM tokd0 CROSS JOIN qlist),
{_pseudo_score_sql(tf, k)}"""


def span_or_sql(terms: list[str], k: int = 10) -> str:
    in_list = ", ".join("'" + t.replace("'", "''") + "'" for t in sorted(set(terms)))
    tf = f"len(list_filter(toks, t -> t IN ({in_list})))"
    return f"""
WITH {CORPUS_CTE.strip()},
tokd AS (
  SELECT doc_id, url,
         list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'),
                     t -> t <> '') AS toks
  FROM corpus
),
{_pseudo_score_sql(tf, k)}"""


def span_not_sql(
    include: str, exclude: str, pre: int = 0, post: int = 0, k: int = 10
) -> str:
    i = include.replace("'", "''")
    x = exclude.replace("'", "''")
    tf = (
        f"len(list_filter(list_filter(range(1, len(toks) + 1), "
        f"p -> toks[p] = '{i}'), p -> len(list_filter("
        f"list_filter(range(1, len(toks) + 1), q -> toks[q] = '{x}'), "
        f"q -> q >= p - {int(pre)} AND q <= p + {int(post)})) = 0))"
    )
    return f"""
WITH {CORPUS_CTE.strip()},
tokd AS (
  SELECT doc_id, url,
         list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'),
                     t -> t <> '') AS toks
  FROM corpus
),
{_pseudo_score_sql(tf, k)}"""


# --- span_within / span_containing --------------------------------------------


def _span_enclosure_counts(
    pdf: pd.DataFrame,
    little: str,
    big_terms: list[str],
    slop: int,
    containing: bool,
    tombstones: np.ndarray | None,
) -> pd.DataFrame:
    """Shared kernel for the two enclosure shapes.  big = span_near(
    big_terms, slop, in_order=false): its spans are [p, p+w) for every
    matching anchor p (w = len(big_terms)+slop — span_near_topk's own
    match definition).  little = span_term(little).

      within:     tf = #little occurrences q enclosed by some big span
                       (exists matching anchor p with p <= q < p + w)
      containing: tf = #matching big anchors p that enclose some little
                       occurrence (exists q with p <= q < p + w)

    All of big_terms AND little are required, so df_s <= min member df
    and the default emission band (max required idf) stays provable.
    """
    from .phrase import _DOC_KEY, _gather_keyed

    groups = {
        t: g.sort_values("block_id") for t, g in pdf.groupby("term", sort=False)
    }
    uniq_big = sorted(set(big_terms))
    required = sorted(set(uniq_big) | {little})
    if any(t not in groups for t in required):
        return _EMPTY_COUNTS.copy()
    by_rarity = sorted(required, key=lambda t: int(groups[t]["n_docs"].sum()))
    per_term: dict[str, tuple] = {}
    common: np.ndarray | None = None
    for t in by_rarity:
        g = groups[t]
        if common is not None:
            firsts = g["first_doc_id"].to_numpy(np.int64)
            lasts = g["last_doc_id"].to_numpy(np.int64)
            lo = np.searchsorted(common, firsts, side="left")
            hi = np.searchsorted(common, lasts, side="right")
            g = g.loc[hi > lo]
            if g.empty:
                return _EMPTY_COUNTS.copy()
        ids, dls, pos = _decode_term_blocks(t, g)
        per_term[t] = (ids, dls, pos)
        common = ids if common is None else np.intersect1d(common, ids)
        if tombstones is not None and tombstones.size:
            common = common[~np.isin(common, tombstones)]
        if common.size == 0:
            return _EMPTY_COUNTS.copy()

    w = len(big_terms) + int(slop)
    keyed_by_term = {}
    for t in required:
        ids_t, _, pos_t = per_term[t]
        keyed_by_term[t], _ = _gather_keyed(ids_t, pos_t, common)
    # matching big anchors (span_near definition over big members only)
    anchors = np.unique(
        np.concatenate([keyed_by_term[t] for t in uniq_big])
    )
    ok = np.ones(anchors.shape, dtype=bool)
    for t in uniq_big:
        keyed_t = np.sort(keyed_by_term[t])
        idx = np.searchsorted(keyed_t, anchors, side="left")
        has = idx < keyed_t.size
        cand = keyed_t[np.minimum(idx, keyed_t.size - 1)]
        ok &= has & (cand < anchors + w)
        if not ok.any():
            return _EMPTY_COUNTS.copy()
    amatch = anchors[ok]
    littles = np.sort(keyed_by_term[little])
    if containing:
        # anchor p matches iff some little q in [p, p+w)
        idx = np.searchsorted(littles, amatch, side="left")
        has = idx < littles.size
        cand = littles[np.minimum(idx, littles.size - 1)]
        hit = amatch[has & (cand < amatch + w)]
    else:
        # little q matches iff some anchor p in (q-w, q]
        amatch_sorted = np.sort(amatch)
        lo = np.searchsorted(amatch_sorted, littles - (w - 1), side="left")
        has = lo < amatch_sorted.size
        cand = amatch_sorted[np.minimum(lo, amatch_sorted.size - 1)]
        hit = littles[has & (cand <= littles)]
    if hit.size == 0:
        return _EMPTY_COUNTS.copy()
    cand_idx = (hit // _DOC_KEY).astype(np.int64)
    uniq_c, counts_per = np.unique(cand_idx, return_counts=True)
    t0 = by_rarity[0]
    ids0, dls0, _ = per_term[t0]
    dl_idx = np.searchsorted(ids0, common[uniq_c])
    return pd.DataFrame(
        {
            "doc_id": common[uniq_c],
            "phrase_tf": counts_per.astype(np.int64),
            "dl": dls0[dl_idx],
        }
    )


def span_within_topk(
    index: dict,
    little: str,
    big_terms: list[str],
    slop: int = 0,
    k: int = 10,
) -> DataFrame:
    """ES span_within: little (span_term) spans enclosed by a
    span_near(big_terms, slop, in_order=false) span; tf = enclosed
    little occurrences."""
    return _run_span(
        index, sorted(set(big_terms) | {little}), k,
        lambda pdf, t: _span_enclosure_counts(
            pdf, little, big_terms, slop, False, t
        ),
    )


def span_containing_topk(
    index: dict,
    little: str,
    big_terms: list[str],
    slop: int = 0,
    k: int = 10,
) -> DataFrame:
    """ES span_containing: span_near(big_terms, slop) spans that contain
    a little (span_term) occurrence; tf = containing big anchors."""
    return _run_span(
        index, sorted(set(big_terms) | {little}), k,
        lambda pdf, t: _span_enclosure_counts(
            pdf, little, big_terms, slop, True, t
        ),
    )


def _enclosure_sql(
    little: str, big_terms: list[str], slop: int, containing: bool, k: int
) -> str:
    uniq = sorted(set(big_terms))
    w = len(big_terms) + int(slop)
    lit = little.replace("'", "''")
    pos_defs = ",\n         ".join(
        "list_filter(range(1, len(toks) + 1), x -> toks[x] = '"
        + t.replace("'", "''")
        + f"') AS pos{i}"
        for i, t in enumerate(uniq)
    )
    anchors = "list_sort(list_distinct(" + (
        " || ".join(f"pos{i}" for i in range(len(uniq)))
    ) + "))"
    member_ok = " AND ".join(
        f"len(list_filter(pos{i}, q -> q >= p AND q < p + {w})) > 0"
        for i in range(len(uniq))
    )
    amatch = f"list_filter({anchors}, p -> {member_ok})"
    posl = (
        f"list_filter(range(1, len(toks) + 1), x -> toks[x] = '{lit}')"
    )
    if containing:
        tf = (
            f"len(list_filter(am, p -> "
            f"len(list_filter(pl, q -> q >= p AND q < p + {w})) > 0))"
        )
    else:
        tf = (
            f"len(list_filter(pl, q -> "
            f"len(list_filter(am, p -> p <= q AND q < p + {w})) > 0))"
        )
    return f"""
WITH {CORPUS_CTE.strip()},
tokd0 AS (
  SELECT doc_id, url,
         list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'),
                     t -> t <> '') AS toks
  FROM corpus
),
tokd1 AS (
  SELECT doc_id, url, toks,
         {pos_defs},
         {posl} AS pl
  FROM tokd0
),
tokd2 AS (SELECT doc_id, url, toks, pl, {amatch} AS am FROM tokd1),
tokd AS (SELECT doc_id, url, toks, {tf} AS tfv FROM tokd2),
{_pseudo_score_sql("tfv", k).strip()}"""


def span_within_sql(
    little: str, big_terms: list[str], slop: int = 0, k: int = 10
) -> str:
    return _enclosure_sql(little, big_terms, slop, False, k)


def span_containing_sql(
    little: str, big_terms: list[str], slop: int = 0, k: int = 10
) -> str:
    return _enclosure_sql(little, big_terms, slop, True, k)


# --- field_masking_span ---------------------------------------------------------


def field_masking_span_topk(
    field_indexes: dict[str, dict],
    clauses: list[tuple[str, str]],
    slop: int = 0,
    k: int = 10,
) -> DataFrame:
    """ES `field_masking_span`: a span clause evaluated against ANOTHER
    field's positions but combined as if it were on the primary field —
    the mechanism that lets span_near mix e.g. an exact field with its
    stemmed sibling (same source token stream => aligned positions).
    `clauses` = [(field, term), ...]; the FIRST clause's field is the
    primary (its dl/avgdl/N score the pseudo-term, exactly the ES
    contract that the masked field only contributes positions).  As in
    ES, position alignment across fields is the caller's responsibility.

    Shape: the per-field indexes share the doc-salt layout (pmod(doc_id,
    P) — enforced), so the member postings union cogroups into ONE
    per-salt kernel; clause postings are relabeled (field:term) and
    the verified span_near window kernel runs unchanged, with dl pinned
    to the primary clause.  All clauses are required, so df_s <= min
    clause df and the usual max-idf emission band is provably safe."""
    from .wand import _collect_idfs, _n_parts, _postings_for_terms

    if not clauses:
        raise ValueError("field_masking_span needs at least one clause")
    primary = field_indexes[clauses[0][0]]
    spark = primary["doc_map"].sparkSession
    empty = spark.createDataFrame([], "doc_id long, url string, score double")
    parts = {_n_parts(field_indexes[f]) for f, _ in clauses}
    if len(parts) != 1:
        raise ValueError(
            f"field indexes must share the salt modulus, got {sorted(parts)}"
        )
    labels, idf_vals = [], []
    for f, t in clauses:
        tl = t.lower()
        idfs, _ = _collect_idfs(field_indexes[f], [tl])
        if tl not in idfs:
            return empty
        # label derives from the term COLUMN (concat, not a literal
        # replacement): ':' cannot appear inside a token, so field:term
        # is collision-free
        labels.append(f"{f}:{tl}")
        idf_vals.append(idfs[tl])
    n, avgdl = primary["_stats"]
    band = TIE_BAND / max(idf_vals)

    post = None
    for (f, t), label in zip(clauses, labels):
        idx = field_indexes[f]
        tl = t.lower()
        p = _postings_for_terms(idx, [tl]).withColumn(
            "term", F.concat(F.lit(f + ":"), F.col("term"))
        )
        post = p if post is None else post.unionByName(
            p, allowMissingColumns=True
        )

    dl_label = labels[0]

    def kernel(pdf: pd.DataFrame, tombstones, _allowed) -> pd.DataFrame:
        counts = _span_near_counts(
            pdf, labels, slop, tombstones, dl_label=dl_label
        )
        return _bounded_emit(counts, len(counts), k, band, avgdl)

    partial = _salt_scored(
        post, _filters_df(primary, None), False, kernel,
        "doc_id long, phrase_tf long, dl long, dfp_part long",
    )
    return score_pseudo_term(primary, partial, k, float(n), avgdl)


def field_masking_span_sql(
    clauses: list[tuple[str, str]], slop: int = 0, k: int = 10
) -> str:
    """Oracle for the (text, url) field pair: both token streams derive
    from the corpus row; anchors/window exactly as span_near, dl from
    the text field."""
    w = len(clauses) + int(slop)
    field_expr = {"text": "lower(text)", "url": "lower(url)"}
    pos_defs, anchor_lists, conds = [], [], []
    for i, (f, t) in enumerate(clauses):
        if f not in field_expr:
            raise ValueError(f"oracle supports fields text/url, got {f!r}")
        tl = t.lower().replace("'", "''")
        src = (
            "toks" if f == "text"
            else "list_filter(regexp_split_to_array(lower(url), "
            f"'{TOKEN_SPLIT_RE}'), x -> x <> '')"
        )
        pos_defs.append(
            f"list_filter(range(1, len({src}) + 1), "
            f"p -> ({src})[p] = '{tl}') AS pos{i}"
        )
        anchor_lists.append(f"pos{i}")
        conds.append(
            f"len(list_filter(pos{i}, q -> q >= a AND q < a + {w})) > 0"
        )
    anchors = " || ".join(anchor_lists)
    tf = (
        f"len(list_filter(list_distinct({anchors}), a -> "
        + " AND ".join(conds)
        + "))"
    )
    return f"""
WITH {CORPUS_CTE.strip()},
tokd0 AS (
  SELECT doc_id, url,
         list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'),
                     t -> t <> '') AS toks
  FROM corpus
),
tokd AS (
  SELECT doc_id, url, toks, {", ".join(pos_defs)}
  FROM tokd0
),
{_pseudo_score_sql(tf, k)}"""
