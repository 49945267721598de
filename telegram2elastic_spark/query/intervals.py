"""ES `intervals` query over the positional index.

The reference gets its query surface from Elasticsearch (README.md:5
Kibana serving); `intervals` is ES's minimal-interval algebra.  This
module implements the two shapes the span/phrase families cannot
express:

`intervals_ordered_topk(terms, max_gaps)` — ES
`intervals: {match: {ordered: true, max_gaps: G}}`.  A match is an
ordered chain p1 < p2 < ... < pm over the query terms (in query order,
repeated terms allowed) whose total gap count (pm - p1 + 1) - m is at
most `max_gaps`.  This differs from match_phrase+slop (which measures
edit displacement, so terms may move PAST each other) and from
span_near in_order=false (no order at all): intervals ordered keeps
strict order but allows arbitrary gap placement up to the budget.
tf = number of occurrence positions of the FIRST term from which such a
chain exists.  Existence is decided by the greedy chain (each step takes
the earliest next-term occurrence strictly after the current one), which
provably minimizes the chain end for a given start, so the greedy test
is exact — the same argument Lucene's minimal-interval iterators rely
on (Vigna et al., "Efficient optimally lazy algorithms for
minimal-interval semantics").

`intervals_any_of_topk(sources, max_gaps)` — ES
`intervals: {any_of: {intervals: [...]}}` over ordered-match sources:
tf = the sum of per-source chain-anchor counts, a doc matches if any
source does.

Both score as a pseudo-term (phrase.py's df_p machinery): exact global
df via per-salt sentinels, standard BM25 saturation.  Emission bands:
an ordered match requires every member term, so df <= min member df and
the max-member-idf band is safe; any_of's df can exceed every member df
(union), so its band uses the driver-inverted upper bound
df <= min(n, sum_s min-member-df(s)) — span_or's algebra, summed over
sources.

Scale shape identical to phrase_topk: postings pruned to member terms
(partition pruning + pushed IN), one per-salt kernel pass, O(P*k)
post-kernel shuffle, k-row broadcast url join.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..corpus import CORPUS_CTE
from ..functions.tokenizer import TOKEN_SPLIT_RE
from .bm25 import TIE_BAND, idf
from .phrase import (
    _DOC_KEY,
    _EMPTY_COUNTS,
    _decode_term_blocks,
    _gather_keyed,
)
from .spans import _pseudo_score_sql, _run_span


def _candidates(
    groups: dict,
    terms: list[str],
    tombstones: np.ndarray | None,
    decode_cache: dict | None = None,
):
    """Rarest-first conjunctive doc intersection over the member terms
    (span_near's candidate stage).  Returns (per_term, common) or None
    when no doc can match.  `decode_cache` follows
    phrase._phrase_counts_group's protocol: a cached FULL decode is a
    superset of any pruned one and substitutes exactly (the intersection
    with `common` downstream discards the extra docs)."""
    uniq = sorted(set(terms))
    if any(t not in groups for t in uniq):
        return None
    by_rarity = sorted(uniq, key=lambda t: int(groups[t]["n_docs"].sum()))
    per_term: dict[str, tuple] = {}
    common: np.ndarray | None = None
    for t in by_rarity:
        cached = decode_cache.get(t) if decode_cache is not None else None
        if cached is not None:
            ids, dls, pos = cached
        else:
            g = groups[t]
            n_blocks = len(g)
            if common is not None:
                firsts = g["first_doc_id"].to_numpy(np.int64)
                lasts = g["last_doc_id"].to_numpy(np.int64)
                lo = np.searchsorted(common, firsts, side="left")
                hi = np.searchsorted(common, lasts, side="right")
                g = g.loc[hi > lo]
                if g.empty:
                    return None
            ids, dls, pos = _decode_term_blocks(t, g)
            if decode_cache is not None and len(g) == n_blocks:
                decode_cache[t] = (ids, dls, pos)
        per_term[t] = (ids, dls, pos)
        common = ids if common is None else np.intersect1d(common, ids)
        if tombstones is not None and tombstones.size:
            common = common[~np.isin(common, tombstones)]
        if common.size == 0:
            return None
    return per_term, common


def _ordered_anchor_tf(
    keyed: dict[str, np.ndarray], terms: list[str], max_gaps: int
) -> np.ndarray:
    """Qualifying chain-start keys for the ordered match (module
    docstring).  `keyed` maps each unique member term to its SORTED
    keyed positions over a shared candidate slot space."""
    anchors = keyed[terms[0]]
    if anchors.size == 0:
        return anchors
    cur = anchors
    ok = np.ones(anchors.shape, dtype=bool)
    for t in terms[1:]:
        kt = keyed[t]
        if kt.size == 0:
            return anchors[:0]
        idx = np.searchsorted(kt, cur, side="right")  # earliest q > cur
        has = idx < kt.size
        nxt = kt[np.minimum(idx, kt.size - 1)]
        ok &= has & ((nxt // _DOC_KEY) == (anchors // _DOC_KEY))
        if not ok.any():
            return anchors[:0]
        cur = np.where(ok, nxt, cur)
    # total gaps = (end - start + 1) - m <= max_gaps
    ok &= (cur - anchors) <= (len(terms) - 1 + max_gaps)
    return anchors[ok]


def _counts_from_anchors(
    matched: np.ndarray, common: np.ndarray, ids0: np.ndarray, dls0: np.ndarray
) -> pd.DataFrame:
    cand_idx = (matched // _DOC_KEY).astype(np.int64)
    uniq_c, starts = np.unique(cand_idx, return_index=True)
    tf = np.diff(np.append(starts, cand_idx.size)).astype(np.int64)
    dl_idx = np.searchsorted(ids0, common[uniq_c])
    return pd.DataFrame(
        {"doc_id": common[uniq_c], "phrase_tf": tf, "dl": dls0[dl_idx]}
    )


def _intervals_ordered_counts(
    pdf: pd.DataFrame,
    terms: list[str],
    max_gaps: int,
    tombstones: np.ndarray | None,
    decode_cache: dict | None = None,
) -> pd.DataFrame:
    groups = {t: g.sort_values("block_id") for t, g in pdf.groupby("term", sort=False)}
    cand = _candidates(groups, terms, tombstones, decode_cache)
    if cand is None:
        return _EMPTY_COUNTS.copy()
    per_term, common = cand
    keyed = {}
    for t in sorted(set(terms)):
        ids_t, _, pos_t = per_term[t]
        k, _ = _gather_keyed(ids_t, pos_t, common)
        keyed[t] = np.sort(k)
    matched = _ordered_anchor_tf(keyed, terms, max_gaps)
    if matched.size == 0:
        return _EMPTY_COUNTS.copy()
    t0 = min(per_term)  # any member: dls align on `common` via searchsorted
    ids0, dls0, _ = per_term[t0]
    return _counts_from_anchors(matched, common, ids0, dls0)


def _intervals_any_of_counts(
    pdf: pd.DataFrame,
    sources: list[list[str]],
    max_gaps: int,
    tombstones: np.ndarray | None,
) -> pd.DataFrame:
    parts = [
        _intervals_ordered_counts(pdf, src, max_gaps, tombstones)
        for src in sources
    ]
    parts = [p for p in parts if len(p)]
    if not parts:
        return _EMPTY_COUNTS.copy()
    cat = pd.concat(parts, ignore_index=True)
    out = (
        cat.groupby("doc_id", as_index=False)
        .agg(phrase_tf=("phrase_tf", "sum"), dl=("dl", "first"))
        .sort_values("doc_id")
    )
    return out[["doc_id", "phrase_tf", "dl"]].reset_index(drop=True)


def intervals_ordered_topk(
    index: dict, terms: list[str], max_gaps: int = 0, k: int = 10
) -> DataFrame:
    """Top-k docs for the ES ordered intervals match (module docstring).
    Requires positions=True at build.  Reference analogue: ES intervals
    query surface implied by README.md:5 Kibana serving."""
    return _run_span(
        index, terms, k,
        lambda pdf, t: _intervals_ordered_counts(pdf, terms, max_gaps, t),
    )


def intervals_any_of_topk(
    index: dict, sources: list[list[str]], max_gaps: int = 0, k: int = 10
) -> DataFrame:
    """Top-k docs for ES `intervals: any_of` over ordered-match sources.
    tf sums per-source anchor counts; df is the exact union doc count,
    so the emission band uses the inverted-df upper bound
    df <= min(n, sum_s min-member-df(s))."""
    from .wand import _collect_idfs

    all_terms = sorted({t for src in sources for t in src})
    idfs, _ = _collect_idfs(index, all_terms)
    spark = index["doc_map"].sparkSession
    empty = spark.createDataFrame([], "doc_id long, url string, score double")
    live_sources = [
        src for src in sources if all(t in idfs for t in src)
    ]
    if not live_sources:
        return empty
    n = float(index["_stats"][0])
    # invert idf -> df per term (span_or algebra); a source's df is at
    # most its rarest member's df, any_of's at most the sum over sources
    def df_of(t: str) -> float:
        r = float(np.expm1(idfs[t]))
        return (n + 0.5 - 0.5 * r) / (r + 1.0)

    df_ub = min(n, sum(min(df_of(t) for t in src) for src in live_sources))
    band = TIE_BAND / float(idf(n, df_ub))
    scan_terms = sorted({t for src in live_sources for t in src})
    return _run_span(
        index, scan_terms, k,
        lambda pdf, t: _intervals_any_of_counts(pdf, live_sources, max_gaps, t),
        required=[], band=band,
    )


# --- DuckDB oracles -----------------------------------------------------------


def _chain_cond(terms: list[str], uniq: list[str], max_gaps: int) -> str:
    """tf lambda body: a first-term occurrence p qualifies iff the greedy
    ordered chain completes within the gap budget."""
    expr = "p"
    for i, t in enumerate(terms[1:], start=1):
        j = uniq.index(t)
        expr = f"list_min(list_filter(pos{j}, q{i} -> q{i} > {expr}))"
    m = len(terms)
    return f"{expr} IS NOT NULL AND {expr} - p <= {m - 1 + int(max_gaps)}"


def _pos_defs(uniq: list[str]) -> str:
    return ",\n         ".join(
        "list_filter(range(1, len(toks) + 1), x -> toks[x] = '"
        + t.replace("'", "''")
        + f"') AS pos{i}"
        for i, t in enumerate(uniq)
    )


def intervals_ordered_sql(terms: list[str], max_gaps: int = 0, k: int = 10) -> str:
    uniq = sorted(set(terms))
    j0 = uniq.index(terms[0])
    tf = f"len(list_filter(pos{j0}, p -> {_chain_cond(terms, uniq, max_gaps)}))"
    return f"""
WITH {CORPUS_CTE.strip()},
tokd AS (
  SELECT doc_id, url,
         list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'),
                     t -> t <> '') AS toks,
         {_pos_defs(uniq)}
  FROM corpus
),
{_pseudo_score_sql(tf, k)}"""


def intervals_any_of_sql(
    sources: list[list[str]], max_gaps: int = 0, k: int = 10
) -> str:
    uniq = sorted({t for src in sources for t in src})
    tfs = []
    for src in sources:
        j0 = uniq.index(src[0])
        tfs.append(
            f"len(list_filter(pos{j0}, p -> {_chain_cond(src, uniq, max_gaps)}))"
        )
    tf = " + ".join(tfs)
    return f"""
WITH {CORPUS_CTE.strip()},
tokd AS (
  SELECT doc_id, url,
         list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'),
                     t -> t <> '') AS toks,
         {_pos_defs(uniq)}
  FROM corpus
),
{_pseudo_score_sql(tf, k)}"""


def intervals_ordered_topk_local(
    index: dict, terms: list[str], max_gaps: int = 0, k: int = 10
) -> list[tuple]:
    """Driver-local intervals twin (the positional analogue of
    phrase_topk_local): one pruned fetch of the member terms' positional
    blocks through the shared hot-shard cache, then the greedy-chain
    kernel and pseudo-term scoring run in-process.

    Returns [(doc_id, score), ...] rank-identical to
    intervals_ordered_topk."""
    from .phrase import _local_pos_blocks, _phrase_weights
    from .wand import _index_stats, _select, _tomb_array

    if not terms:
        return []
    pdf = _local_pos_blocks(index, terms)
    if pdf is None:
        return []
    from .phrase import _local_pos_decoded, _pos_arrays, _trim_pos_decoded

    for t in set(terms):
        _pos_arrays(index, t)
    counts = _intervals_ordered_counts(
        pdf, terms, max_gaps, tombstones=_tomb_array(index),
        decode_cache=_local_pos_decoded(index),
    )
    _trim_pos_decoded(index)
    if counts.empty:
        return []
    n, avgdl = _index_stats(index)
    ids, scores = _select(
        counts["doc_id"].to_numpy(np.int64),
        _phrase_weights(counts, n, avgdl, df_p=len(counts)),
        k,
    )
    return list(zip(ids.tolist(), scores.tolist()))
