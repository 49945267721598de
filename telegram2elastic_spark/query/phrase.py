"""Phrase queries ("match_phrase") over positional postings.

The reference gets phrase matching from Elasticsearch's positional index;
here the positions travel with the compressed postings (codec
pos_bytes, built with build_index(..., positions=True)) and the phrase is
scored as a pseudo-term:

    phrase_tf(d) = number of exact-adjacency occurrences of the phrase
    df_p         = number of docs with phrase_tf > 0
    score(d)     = idf(df_p) * phrase_tf*(k1+1)
                   / (phrase_tf + k1*(1 - b + b*|d|/avgdl))

Distributed shape: per-salt kernel decodes the phrase terms' postings +
positions, intersects doc sets, counts adjacency runs (vectorized via
sorted-array membership over shifted positions), and emits (doc_id,
phrase_tf, dl).  df_p and the final scoring are tiny relational ops over
that result (global stats need the cross-salt df_p, so scoring happens
after the union — exactly the partial-then-global pattern of the WAND
path)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..corpus import CORPUS_CTE
from ..functions.tokenizer import TOKEN_SPLIT_RE
from ..index.codec import decode_many, decode_positions
from .bm25 import (
    B,
    K1,
    SCORE_DECIMALS,
    TIE_BAND,
    bm25_weight,
    idf,
    idf_col,
    tf_saturation,
)
from .wand import (
    _filters_df,
    _in_sorted,
    _index_stats,
    _postings_for_terms,
    _salt_scored,
    _select,
    _with_urls,
)

# Per-candidate key space: key = candidate_index * _DOC_KEY + position.
# Positions are token offsets (< doc length << 2^33) and candidate counts
# per salt stay < 2^30, so keys never collide or overflow int64.
_DOC_KEY = np.int64(1) << 33

_EMPTY_COUNTS = pd.DataFrame(
    {
        "doc_id": pd.Series([], dtype="int64"),
        "phrase_tf": pd.Series([], dtype="int64"),
        "dl": pd.Series([], dtype="int64"),
    }
)


def _gather_keyed(
    ids: np.ndarray, pos: list[np.ndarray], common: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Candidate docs' position arrays -> one flat int64 key array
    (candidate_index * _DOC_KEY + position) + per-candidate lengths."""
    idxs = np.searchsorted(ids, common)
    sel = [pos[i] for i in idxs]
    lens = np.fromiter((a.size for a in sel), dtype=np.int64, count=len(sel))
    if lens.sum() == 0:
        return np.array([], dtype=np.int64), lens
    flat = np.concatenate(sel).astype(np.int64)
    bases = np.repeat(np.arange(len(common), dtype=np.int64) * _DOC_KEY, lens)
    return flat + bases, lens


def _decode_term_blocks_raw(term: str, g: pd.DataFrame) -> tuple:
    """Decode one term's (already selected) blocks -> (ids, dls,
    positions) in block storage order (NOT globally sorted)."""
    from ..index.codec import varbyte_decode

    ids, tfs, dls = decode_many(
        [bytes(x) for x in g["doc_gaps"]],
        [bytes(x) for x in g["tf_bytes"]],
        [bytes(x) for x in g["dl_bytes"]],
        g["n_docs"].to_numpy(),
    )
    pos: list[np.ndarray] = []
    for pb, tfb in zip(g["pos_bytes"], g["tf_bytes"]):
        block_tfs = varbyte_decode(bytes(tfb))
        pb = bytes(pb) if pb is not None else b""
        if not pb and block_tfs.size:
            # a tf>0 posting without stored positions means the index
            # was not built with positions=True (or segments were merged
            # mixed) — failing fast beats silently returning no matches
            raise ValueError(
                "phrase query requires a positional index "
                "(build_index(..., positions=True)); "
                f"term {term!r} has posting blocks without positions"
            )
        pos.extend(decode_positions(pb, block_tfs))
    return ids.astype(np.int64), dls.astype(np.int64), pos


def _sort_triple(ids: np.ndarray, dls: np.ndarray, pos: list) -> tuple:
    """Globally sort a decoded (ids, dls, positions) triple by doc id.

    Multi-segment indexes interleave block doc ranges (doc ids are unique
    per term — segments hold disjoint doc sets); sorted order makes
    _gather_keyed's searchsorted lookups valid."""
    order = np.argsort(ids, kind="mergesort")
    if not np.array_equal(order, np.arange(order.size)):
        ids, dls = ids[order], dls[order]
        pos = [pos[i] for i in order]
    return ids, dls, pos


def _decode_term_blocks(term: str, g: pd.DataFrame) -> tuple:
    """Decode one term's (already selected) blocks -> sorted (ids, dls,
    positions)."""
    return _sort_triple(*_decode_term_blocks_raw(term, g))


def _decode_blocks_block_cached(
    term: str, g: pd.DataFrame, tb: dict
) -> tuple:
    """Block-granular shared decode: each (term, block_id) payload is
    decoded at most once per cache lifetime (one salt group of one batch
    job), however differently each query's conjunctive pruning selects
    blocks.  Missing blocks decode in ONE vectorized call, are split on
    the per-block posting counts, and cached; assembly re-sorts globally.
    This is what lets a batch share the Zipf-head term's decode even when
    every query prunes it to a different block subset (the r4 memo only
    shared COMPLETE decodes)."""
    # Cache key is the block's IDENTITY, not block_id alone: multi-segment
    # views (IncrementalIndexer.as_index) union per-segment postings whose
    # block_id restarts at 0 per segment, so one salt group can hold
    # several distinct blocks with the same block_id.  Segments own
    # disjoint doc-id sets, so (block_id, first_doc_id, last_doc_id,
    # n_docs) is unique per physical block (ADVICE r5, high).
    keys = list(
        zip(
            g["block_id"].to_numpy(),
            g["first_doc_id"].to_numpy(),
            g["last_doc_id"].to_numpy(),
            g["n_docs"].to_numpy(),
        )
    )
    have = np.array([kk in tb for kk in keys], dtype=bool)
    missing = g.loc[~have]
    if len(missing):
        m_ids, m_dls, m_pos = _decode_term_blocks_raw(term, missing)
        counts = missing["n_docs"].to_numpy(np.int64)
        bounds = np.cumsum(counts)
        id_sp = np.split(m_ids, bounds[:-1])
        dl_sp = np.split(m_dls, bounds[:-1])
        starts = np.concatenate([[0], bounds[:-1]])
        for i, kk in enumerate(
            kk for kk, h in zip(keys, have) if not h
        ):
            tb[kk] = (
                id_sp[i],
                dl_sp[i],
                m_pos[int(starts[i]) : int(bounds[i])],
            )
    parts = [tb[kk] for kk in keys]
    if not parts:
        return (
            np.array([], dtype=np.int64),
            np.array([], dtype=np.int64),
            [],
        )
    ids = np.concatenate([p[0] for p in parts])
    dls = np.concatenate([p[1] for p in parts])
    pos = [a for p in parts for a in p[2]]
    return _sort_triple(ids, dls, pos)


def _phrase_counts_group(
    pdf: pd.DataFrame,
    phrase: list[str],
    tombstones: np.ndarray | None = None,
    stats: dict | None = None,
    slop: int = 0,
    decode_cache: dict | None = None,
    block_cache: dict | None = None,
) -> pd.DataFrame:
    """One salt's blocks -> (doc_id, phrase_tf, dl) for docs containing the
    exact phrase.  Fully vectorized: adjacency is ONE np.isin per phrase
    term over the concatenation of every candidate doc's positions (keyed
    by candidate index), not a per-doc Python loop — the kernel cost is
    O(total positions log total positions) regardless of candidate count.

    Conjunctive block pruning (the positional analogue of WAND skipping): a
    phrase doc must appear in EVERY member term's postings, so terms are
    processed rarest-first and each later term only decodes blocks whose
    [first_doc_id, last_doc_id] range contains a surviving candidate — a
    metadata-only searchsorted check.  For a rare-with-common phrase
    ("merge the") the Zipf-head term's blocks are mostly skipped.  `stats`
    (optional) accumulates blocks_total / blocks_decoded for tests."""
    groups: dict[str, pd.DataFrame] = {
        term: g.sort_values("block_id")
        for term, g in pdf.groupby("term", sort=False)
    }
    if any(t not in groups for t in set(phrase)):
        return _EMPTY_COUNTS.copy()
    if stats is not None:
        stats["blocks_total"] = stats.get("blocks_total", 0) + sum(
            len(g) for g in groups.values()
        )

    # rarest-first by total posting count (metadata sum, no decode)
    by_rarity = sorted(
        set(phrase), key=lambda t: int(groups[t]["n_docs"].sum())
    )
    per_term: dict[str, tuple] = {}
    common: np.ndarray | None = None
    for t in by_rarity:
        g = groups[t]
        cached = decode_cache.get(t) if decode_cache is not None else None
        if cached is not None:
            # FULL decode memoized by an earlier query in the batch —
            # reuse it outright (a superset of any pruned decode)
            ids, dls, pos = cached
        else:
            n_blocks = len(g)
            if common is not None:
                firsts = g["first_doc_id"].to_numpy(np.int64)
                lasts = g["last_doc_id"].to_numpy(np.int64)
                lo = np.searchsorted(common, firsts, side="left")
                hi = np.searchsorted(common, lasts, side="right")
                g = g.loc[hi > lo]
                if g.empty:
                    return _EMPTY_COUNTS.copy()
            if stats is not None:
                stats["blocks_decoded"] = (
                    stats.get("blocks_decoded", 0) + len(g)
                )
            if block_cache is not None:
                ids, dls, pos = _decode_blocks_block_cached(
                    t, g, block_cache.setdefault(t, {})
                )
            else:
                ids, dls, pos = _decode_term_blocks(t, g)
            if decode_cache is not None and len(g) == n_blocks:
                # only complete decodes are safe to share across queries
                decode_cache[t] = (ids, dls, pos)
        per_term[t] = (ids, dls, pos)
        common = ids if common is None else np.intersect1d(common, ids)
        if tombstones is not None and tombstones.size:
            common = common[~np.isin(common, tombstones)]
        if common.size == 0:
            return _EMPTY_COUNTS.copy()

    # vectorized adjacency: keyed positions of term_0 are phrase starts;
    # start s in doc d extends iff keyed positions of term_i contain
    # key(d, s + i) — per-doc bases keep docs from cross-matching.
    t0 = phrase[0]
    ids0, dls0, pos0 = per_term[t0]
    starts, lens0 = _gather_keyed(ids0, pos0, common)
    ok = np.ones(starts.shape, dtype=bool)
    if slop == 0:
        for i, t in enumerate(phrase[1:], start=1):
            idsi, _, posi = per_term[t]
            keyed_i, _ = _gather_keyed(idsi, posi, common)
            ok &= np.isin(starts + i, keyed_i)
            if not ok.any():
                return _EMPTY_COUNTS.copy()
    else:
        # sloppy ordered match ("match_phrase" slop, ordered variant): a
        # start p matches iff positions p < q_1 < ... < q_{m-1} exist with
        # q_i <= p + i + slop (every term's displacement from its exact
        # slot bounded by slop).  Greedy minimal q_i is optimal — a
        # smaller q_i only weakens later constraints — so one searchsorted
        # per term settles every start simultaneously.  Keys stay inside
        # the candidate's block because slop << _DOC_KEY.
        prev = starts.copy()
        for i, t in enumerate(phrase[1:], start=1):
            idsi, _, posi = per_term[t]
            keyed_i, _ = _gather_keyed(idsi, posi, common)
            if keyed_i.size == 0:
                return _EMPTY_COUNTS.copy()
            idx = np.searchsorted(keyed_i, prev + 1, side="left")
            has = idx < keyed_i.size
            cand = keyed_i[np.minimum(idx, keyed_i.size - 1)]
            ok &= has & (cand <= starts + i + slop)
            if not ok.any():
                return _EMPTY_COUNTS.copy()
            prev = np.where(ok, cand, prev)
    # phrase_tf per candidate: segment-sum of ok over the lens0 boundaries
    offsets = np.concatenate([[0], np.cumsum(lens0)[:-1]])
    tf_per_doc = np.add.reduceat(ok.astype(np.int64), offsets)
    tf_per_doc[lens0 == 0] = 0  # reduceat artifacts on empty segments
    hit = tf_per_doc > 0
    if not hit.any():
        return _EMPTY_COUNTS.copy()
    dl_sel = dls0[np.searchsorted(ids0, common)]
    return pd.DataFrame(
        {
            "doc_id": common[hit].astype("int64"),
            "phrase_tf": tf_per_doc[hit].astype("int64"),
            "dl": dl_sel[hit].astype("int64"),
        }
    )


def _phrase_g(tf: np.ndarray, dl: np.ndarray, avgdl: float) -> np.ndarray:
    """The idf-free part of the pseudo-term BM25 score.  For a fixed
    query the phrase idf is a global positive constant, so ordering by g
    IS ordering by score — salt-local truncation can run before df_p is
    known."""
    return tf_saturation(tf.astype(np.float64), dl.astype(np.float64), avgdl)


def _bounded_emit(
    counts: pd.DataFrame, n_match: int, k: int, band: float | None, avgdl: float
) -> pd.DataFrame:
    """The emission of every pseudo-term kernel (phrase, prefix, span,
    intervals): the salt's top-k matches by the idf-free kernel g plus
    every match within `band` of the k-th (band None: every match), and
    one sentinel row (doc_id=-1) carrying the salt's match count for the
    exact global df_p (phrase_topk docstring)."""
    if band is not None and len(counts) > k:
        g = _phrase_g(
            counts["phrase_tf"].to_numpy(), counts["dl"].to_numpy(), avgdl
        )
        order = np.lexsort((counts["doc_id"].to_numpy(), -g))
        kth_g = g[order[k - 1]]
        counts = counts.iloc[order[g[order] >= kth_g - band]]
    sentinel = pd.DataFrame(
        {
            "doc_id": pd.Series([-1], dtype="int64"),
            "phrase_tf": pd.Series([0], dtype="int64"),
            "dl": pd.Series([0], dtype="int64"),
            "dfp_part": pd.Series([n_match], dtype="int64"),
        }
    )
    counts = counts.assign(dfp_part=np.int64(0))
    return pd.concat([counts, sentinel], ignore_index=True)


def _pseudo_term_w(n: float, avgdl: float) -> F.Column:
    """BM25 weight of a pseudo-term row (phrase_tf, dl) given its global
    df_p column — the phrase / span / compound global stage."""
    return bm25_weight(
        F.col("phrase_tf"),
        F.col("dl"),
        F.lit(float(avgdl)),
        idf_col(F.lit(float(n)), F.col("df_p")),
    )


def _phrase_partial_group(
    pdf: pd.DataFrame,
    phrase: list[str],
    k: int,
    band: float,
    avgdl: float,
    tombstones: np.ndarray | None = None,
    slop: int = 0,
    decode_cache: dict | None = None,
    allowed: np.ndarray | None = None,
    block_cache: dict | None = None,
) -> pd.DataFrame:
    """One salt's blocks -> the rows the global stage needs: the salt's
    top-k matches by the idf-free kernel g (plus the rounding-tie band)
    and one sentinel row (doc_id=-1) carrying the salt's full match count
    for the exact global df_p (phrase_topk docstring).  `allowed` (ES
    filter context) restricts the EMITTED matches; the sentinel keeps the
    pre-filter count — df_p and hence idf stay global, the contract
    compound.py documents."""
    counts = _phrase_counts_group(
        pdf, phrase, tombstones=tombstones, slop=slop,
        decode_cache=decode_cache, block_cache=block_cache,
    )
    n_match = len(counts)
    if allowed is not None and n_match:
        counts = counts.loc[_in_sorted(counts["doc_id"].to_numpy(np.int64), allowed)]
    # truncate on the post-filter (emittable) rows
    return _bounded_emit(counts, n_match, k, band, avgdl)


def phrase_topk(
    index: dict,
    phrase: list[str],
    k: int = 10,
    slop: int = 0,
    doc_filter: str | None = None,
) -> DataFrame:
    """Top-k docs containing the phrase, BM25-scored as a pseudo-term.
    `slop=0` is exact adjacency ("match_phrase"); `slop=s` allows each
    member term to sit up to s token slots past its exact position, in
    order (ordered proximity — _phrase_counts_group docstring).

    Scale shape: each salt kernel verifies all of its candidates (df_p
    must stay exact) but EMITS only its top-k matches by the idf-free
    score kernel g plus a rounding-tie band, with the salt's match count
    riding along as a sentinel row — the post-kernel shuffle is O(P*k),
    not O(match count).  The band is exact: the phrase's df_p is at most
    any member term's df, so its idf is at least the max member-term idf
    (idf is decreasing in df); a doc whose g trails its salt's k-th by
    more than (2*10^-SCORE_DECIMALS + ROUND_GUARD)/idf_lb rounds
    strictly below k salt-mates and can never reach the global top-k.

    `doc_filter` (SQL predicate over doc_map columns) is ES filter
    context: emitted matches restricted, df_p (and so the pseudo-term
    idf) stays global — the compound.py contract; filter ids reach the
    kernels per-salt via cogroup, never a driver collect.

    Requires an index built with positions=True (pos_bytes populated)."""
    from .wand import _collect_idfs

    spark = index["doc_map"].sparkSession
    empty = spark.createDataFrame([], "doc_id long, url string, score double")
    if len(phrase) < 1:
        return empty
    idfs, _avgdl0 = _collect_idfs(index, sorted(set(phrase)))
    if any(t not in idfs for t in set(phrase)):
        return empty  # a member term with zero postings: no matches anywhere
    band = TIE_BAND / max(idfs.values())
    post = _postings_for_terms(index, sorted(set(phrase)))
    filt = _filters_df(index, doc_filter)  # tombstones + admitted ids
    n, avgdl = _index_stats(index)

    def kernel(pdf: pd.DataFrame, tomb, allowed) -> pd.DataFrame:
        return _phrase_partial_group(
            pdf, phrase, k, band, avgdl, tombstones=tomb, slop=slop,
            allowed=allowed,
        )

    partial = _salt_scored(
        post, filt, doc_filter is not None, kernel,
        "doc_id long, phrase_tf long, dl long, dfp_part long",
    )
    return score_pseudo_term(index, partial, k, float(n), avgdl)


def score_pseudo_term(
    index: dict, partial: DataFrame, k: int, n: float, avgdl: float
) -> DataFrame:
    """Global stage shared by every pseudo-term query (phrase, span):
    sum the doc_id=-1 sentinels into the exact global df_p, score the
    emitted (phrase_tf, dl) rows with the pseudo-term BM25, TakeOrdered
    top-k, k-row broadcast url join.

    df_p comes from an unpartitioned window sum over the BOUNDED
    post-kernel rows (O(P*k) + P sentinels, the emission contract) — a
    separate agg + broadcast join re-executed the whole kernel subtree
    (Spark has no common-subplan reuse without a persist; measured ~2x
    the query wall, r5).  The single-partition WindowExec is deliberate
    and bounded, like the rank-over-TakeOrdered windows (r3 audit)."""
    from pyspark.sql import Window as _W

    matches = partial.withColumn(
        "df_p", F.sum("dfp_part").over(_W.partitionBy())
    ).filter(F.col("doc_id") >= 0)
    scored = (
        matches
        .withColumn("score", F.round(_pseudo_term_w(n, avgdl), SCORE_DECIMALS))
        .select("doc_id", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )
    return _with_urls(index, scored)


def phrase_topk_batch(
    index: dict,
    queries: dict[int, list[str]],
    k: int = 10,
    slop: dict[int, int] | int = 0,
) -> DataFrame:
    """Answer a whole batch of phrase queries in ONE Spark job (the server
    pattern of wand_topk_batch: per-query job overhead dominates kernel
    compute in interactive serving, so the query set runs as a single
    cogrouped stage).  `slop` is an int for every query or a per-query-id
    dict.  Per-salt, queries share a FULL-decode memo: a positional term
    decoded completely by one query (always its rarest term, often a
    shared Zipf-head) is free for every later query in the batch; pruned
    (partial) decodes are never shared.  Emission per query follows
    phrase_topk's bounded contract (top-k by g + tie band + df_p
    sentinel), so the post-kernel shuffle is O(P * Q * k).

    Returns (query_id, doc_id, url, score), top-k per query, ordered."""
    from .wand import _collect_idfs

    spark = index["doc_map"].sparkSession
    if isinstance(slop, int):
        slops = {qid: int(slop) for qid in queries}
    else:
        slops = {qid: int(slops_v) for qid, slops_v in slop.items()}
    all_terms = sorted({t for ph in queries.values() for t in ph})
    empty = spark.createDataFrame(
        [], "query_id int, doc_id long, url string, score double"
    )
    if not all_terms:
        return empty
    idfs, _ = _collect_idfs(index, all_terms)
    live = {
        qid: ph
        for qid, ph in queries.items()
        if ph and all(t in idfs for t in ph)
    }
    if not live:
        return empty
    bands = {
        qid: TIE_BAND / max(idfs[t] for t in ph) for qid, ph in live.items()
    }
    post = _postings_for_terms(
        index, sorted({t for ph in live.values() for t in ph})
    )
    filt = _filters_df(index, None)
    n, avgdl = _index_stats(index)

    def kernel(pdf: pd.DataFrame, tomb, allowed) -> pd.DataFrame:
        # full-decode memo (term -> complete triple) PLUS block-granular
        # cache: a Zipf-head term pruned to different block subsets by
        # different queries still decodes each block exactly once.
        cache: dict = {}
        blocks: dict = {}
        outs = []
        for qid, ph in live.items():
            part = _phrase_partial_group(
                pdf, ph, k, bands[qid], avgdl, tombstones=tomb,
                slop=slops.get(qid, 0), decode_cache=cache,
                block_cache=blocks,
            )
            part.insert(0, "query_id", np.int32(qid))
            outs.append(part)
        return pd.concat(outs, ignore_index=True)

    partial = _salt_scored(
        post, filt, False, kernel,
        "query_id int, doc_id long, phrase_tf long, dl long, dfp_part long",
    )
    # df_p via a window sum over the BOUNDED post-kernel rows (O(P*Q*k)
    # + P*Q sentinels): a separate groupBy + broadcast join re-executed
    # the whole kernel subtree a second time (no common-subplan reuse in
    # Spark without an explicit persist) — measured as ~2x the batch
    # wall (r5).  The window shuffle moves only the tiny partial rows.
    from pyspark.sql import Window as _W

    matches = partial.withColumn(
        "df_p", F.sum("dfp_part").over(_W.partitionBy("query_id"))
    ).filter(F.col("doc_id") >= 0)
    scored = matches.withColumn(
        "score", F.round(_pseudo_term_w(n, avgdl), SCORE_DECIMALS)
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


def phrase_topk_batch_sql(
    specs: dict[int, tuple[list[str], int]], k: int = 10
) -> str:
    """DuckDB oracle for phrase_topk_batch: the per-query phrase oracle,
    query_id-tagged and unioned (a query with no matches contributes no
    rows, matching the batch path)."""
    parts = [
        f"SELECT {int(qid)} AS query_id, * FROM ({phrase_topk_sql(ph, k=k, slop=slop)})"
        for qid, (ph, slop) in sorted(specs.items())
    ]
    return (
        "\nUNION ALL\n".join(parts)
        + "\nORDER BY query_id, score DESC, doc_id ASC"
    )


def _local_pos_blocks(index: dict, terms: list[str]) -> pd.DataFrame | None:
    """Driver-side fetch of positional posting blocks (hot-shard cache,
    like wand._local_post_cache but carrying pos_bytes).  Blocks are
    self-contained (first gap absolute), so multi-salt/multi-segment
    mixes decode correctly and _decode_term_blocks re-sorts globally."""
    from .wand import _postings_for_terms

    cache = index.setdefault("_local_pos_cache", {})
    missing = [t for t in set(terms) if t not in cache]
    if missing:
        fetched = (
            _postings_for_terms(index, missing)
            .select(
                "term", "block_id", "n_docs", "first_doc_id", "last_doc_id",
                "doc_gaps", "tf_bytes", "dl_bytes", "pos_bytes",
                "block_max_tf",
            )
            .toPandas()
        )
        for t, g in fetched.groupby("term", sort=False):
            cache[t] = g
        for t in missing:
            cache.setdefault(t, None)
    parts = [cache[t] for t in set(terms) if cache.get(t) is not None]
    if len(parts) < len(set(terms)):
        return None  # a phrase term with zero postings can never match
    return pd.concat(parts, ignore_index=True)


#: cap on total decoded ids+positions resident per index handle for the
#: local positional twins (int64 each; 30M ≈ 240 MB plus list overhead —
#: the order of a Lucene node's hot positional page cache).  FIFO
#: eviction; encoded blocks stay in _local_pos_cache so an evicted term
#: re-decodes without a Spark fetch.
_LOCAL_POS_DECODE_CAP = 30_000_000


def _local_pos_decoded(index: dict) -> dict:
    """The persistent decoded-positions cache for the driver-local twins
    (the positional analogue of wand._term_arrays): maps term ->
    (ids, dls, pos) fully decoded, or None for a postings-less term.
    _phrase_counts_group / intervals._candidates consume entries via
    their decode_cache protocol."""
    return index.setdefault("_local_pos_decoded", {})


def _pos_arrays(index: dict, term: str) -> tuple | None:
    """Full decoded (ids, dls, positions) for one term, resident on the
    index handle.  A warm positional query (phrase/intervals/compound
    local twins) then runs entirely over in-memory arrays — no Spark, no
    varbyte/position decode.  Cold one-shot queries trade the conjunctive
    pruned decode for a cacheable full decode: right for a query node
    serving a stream, and the distributed paths keep the pruned kernel."""
    cache = _local_pos_decoded(index)
    if term in cache:
        return cache[term]
    pdf = _local_pos_blocks(index, [term])
    if pdf is None:
        cache[term] = None
        return None
    entry = _decode_term_blocks(term, pdf.sort_values("block_id"))
    cache[term] = entry
    sizes = index.setdefault("_local_pos_decoded_sz", {})
    ids, _, pos = entry
    sizes[term] = int(ids.size) + int(sum(a.size for a in pos))
    return entry


def _trim_pos_decoded(index: dict) -> None:
    """FIFO-evict decoded positional entries past the cap (oldest first;
    the just-used terms were re-inserted most recently only on miss, so a
    steady query mix keeps its hot terms)."""
    cache = index.get("_local_pos_decoded")
    if not cache:
        return
    sizes = index.setdefault("_local_pos_decoded_sz", {})
    for t, entry in cache.items():
        if t not in sizes:
            if entry is None:
                sizes[t] = 0
            else:
                ids, _, pos = entry
                sizes[t] = int(ids.size) + int(sum(a.size for a in pos))
    total = sum(sizes.get(t, 0) for t in cache)
    while total > _LOCAL_POS_DECODE_CAP and len(cache) > 1:
        old = next(iter(cache))
        cache.pop(old)
        total -= sizes.pop(old, 0)


def _phrase_weights(
    counts: pd.DataFrame, n: int, avgdl: float, df_p: int
) -> np.ndarray:
    return bm25_weight(
        counts["phrase_tf"].to_numpy(np.float64),
        counts["dl"].to_numpy(np.float64),
        avgdl,
        idf(n, df_p),
    )


def phrase_topk_local(
    index: dict,
    phrase: list[str],
    k: int = 10,
    slop: int = 0,
    doc_filter: str | None = None,
) -> list[tuple]:
    """Low-latency phrase path: the driver acts as the query node (the
    positional analogue of wand_topk_local) — one pruned fetch of the
    phrase terms' positional blocks (cached across the query stream), then
    the conjunctive-pruned adjacency kernel and scoring run in-process.
    `doc_filter` follows phrase_topk's filter-context contract (global
    df_p, filtered hits).

    Returns [(doc_id, score), ...] rank-identical to phrase_topk."""
    from .wand import _allowed_ids, _tomb_array

    if not phrase:
        return []
    pdf = _local_pos_blocks(index, phrase)
    if pdf is None:
        return []
    # warm the resident full decodes so the kernel's decode_cache hits on
    # EVERY term (not just the unpruned rarest one); warm queries then do
    # zero decode work
    for t in set(phrase):
        _pos_arrays(index, t)
    counts = _phrase_counts_group(
        pdf, phrase, tombstones=_tomb_array(index), slop=slop,
        decode_cache=_local_pos_decoded(index),
    )
    _trim_pos_decoded(index)
    if counts.empty:
        return []
    n, avgdl = _index_stats(index)
    ids, scores = _select(
        counts["doc_id"].to_numpy(np.int64),
        # df_p: the global (pre-filter) phrase df
        _phrase_weights(counts, n, avgdl, df_p=len(counts)),
        k,
        allowed=_allowed_ids(index, doc_filter),
    )
    return list(zip(ids.tolist(), scores.tolist()))


def _slop_chain_expr(phrase: list[str], slop: int) -> str:
    """Greedy ordered-proximity chain as nested DuckDB lambdas: start p
    matches iff positions p < q_1 < ... exist with q_i <= p + i + slop —
    the same greedy-minimal recursion the kernel vectorizes (greedy is
    optimal: a smaller q_i only weakens later constraints)."""

    def chain(i: int, prev: str) -> str:
        filt = (
            f"list_filter(pos{i}, v{i} -> v{i} > {prev} "
            f"AND v{i} <= p + {i} + {slop})"
        )
        if i == len(phrase) - 1:
            return f"len({filt}) > 0"
        nxt = f"list_min({filt})"
        return f"({nxt} IS NOT NULL AND {chain(i + 1, nxt)})"

    return chain(1, "p")


def phrase_topk_sql(phrase: list[str], k: int = 10, slop: int = 0) -> str:
    """DuckDB oracle: tokenize, count exact-adjacency (slop=0) or ordered
    greedy-proximity (slop>0) runs, score the phrase as a pseudo-term with
    the same BM25 parameterization."""
    m = len(phrase)
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
        pos_defs = ",\n         ".join(
            "list_filter(range(1, len(toks) + 1), x -> toks[x] = '"
            + t.replace("'", "''")
            + f"') AS pos{i}"
            for i, t in enumerate(phrase)
        )
        pos_cols = ",\n         " + pos_defs
        tf_expr = (
            f"len(list_filter(pos0, p -> {_slop_chain_expr(phrase, slop)}))"
        )
    return f"""
WITH {CORPUS_CTE.strip()},
tokd AS (
  SELECT doc_id, url,
         list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'),
                     t -> t <> '') AS toks{pos_cols}
  FROM corpus
),
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


def match_phrase_prefix_topk(
    index: dict,
    phrase: list[str],
    k: int = 10,
    max_expansions: int = 50,
) -> DataFrame:
    """ES `match_phrase_prefix`: the LAST phrase slot is prefix-expanded
    against the term dictionary (term order, capped at `max_expansions` —
    Lucene's MultiPhraseQuery rewrite) and a doc matches where the
    required terms are exactly adjacent and the final slot holds ANY
    expansion.  Scored as a pseudo-term (the engine's phrase convention):
    tf = number of matching starts.

    Exactness of the per-variant sum: at a fixed final position there is
    exactly ONE token, so at most one expansion matches a given start —
    summing each variant's phrase_tf never double-counts (slop=0 only;
    this is why the sloppy variant is not offered here).

    Scale shape: expansion is a driver-side sorted-dict scan (row-group
    pruned, <= max_expansions rows).  Each salt kernel runs the standard
    phrase kernel once per variant with a SHARED full-decode memo — the
    required terms decode at most once per salt — then merges per-doc
    counts.  Emission is phrase_topk's bounded contract with
    idf_lb = max required-term idf (df_p <= any required term's df, the
    same monotonicity argument); a bare one-slot prefix has no such
    bound, so that form emits all matches (still postings-bounded).
    """
    from .wand import _collect_idfs

    spark = index["doc_map"].sparkSession
    empty = spark.createDataFrame([], "doc_id long, url string, score double")
    if not phrase:
        return empty
    required = phrase[:-1]
    from .expand import expand_prefix

    alts = expand_prefix(index, phrase[-1], max_expansions)
    if not alts:
        return empty
    need = sorted(set(required) | set(alts))
    idfs, _avgdl0 = _collect_idfs(index, need)
    if any(t not in idfs for t in set(required)):
        return empty
    if required:
        band = TIE_BAND / max(idfs[t] for t in set(required))
    else:
        band = None  # no admissible bound: emit every match
    post = _postings_for_terms(index, need)
    filt = _filters_df(index, None)
    n, avgdl = _index_stats(index)

    def kernel(pdf: pd.DataFrame, tomb, allowed) -> pd.DataFrame:
        cache: dict = {}
        frames = []
        for alt in alts:
            counts = _phrase_counts_group(
                pdf, required + [alt], tombstones=tomb, slop=0,
                decode_cache=cache,
            )
            if len(counts):
                frames.append(counts)
        if not frames:
            merged = _EMPTY_COUNTS.copy()
        else:
            merged = (
                pd.concat(frames, ignore_index=True)
                .groupby("doc_id", as_index=False)
                .agg(phrase_tf=("phrase_tf", "sum"), dl=("dl", "first"))
            )
        return _bounded_emit(merged, len(merged), k, band, avgdl)

    partial = _salt_scored(
        post, filt, False, kernel,
        "doc_id long, phrase_tf long, dl long, dfp_part long",
    )
    return score_pseudo_term(index, partial, k, float(n), avgdl)


def match_phrase_prefix_sql(
    phrase: list[str], k: int = 10, max_expansions: int = 50
) -> str:
    """DuckDB oracle: expansion set derived IN SQL from the corpus
    vocabulary (the term dictionary IS the distinct vocabulary — the
    prefix_topk oracle's argument), then slop=0 adjacency with the last
    slot matched by list membership; identical pseudo-term scoring."""
    required = phrase[:-1]
    prefix = phrase[-1]
    esc = prefix.replace("\\", "\\\\").replace("%", "\\%").replace("_", "\\_")
    esc_sq = (esc + "%").replace("'", "''")
    m = len(phrase)
    adj_parts = [
        "toks[i+" + str(i) + "] = '" + t.replace("'", "''") + "'"
        for i, t in enumerate(required)
    ]
    adj_parts.append(f"list_contains(expl.alts, toks[i+{m - 1}])")
    adj = " AND ".join(adj_parts)
    return f"""
WITH {CORPUS_CTE.strip()},
tokd AS (
  SELECT doc_id, url,
         list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'),
                     t -> t <> '') AS toks
  FROM corpus
),
exps AS (
  SELECT term FROM (SELECT DISTINCT unnest(toks) AS term FROM tokd)
  WHERE term LIKE '{esc_sq}' ESCAPE '\\'
  ORDER BY term LIMIT {max_expansions}
),
expl AS (SELECT list(term ORDER BY term) AS alts FROM exps),
stats AS (SELECT count(*) AS n, avg(len(toks)) AS avgdl FROM tokd),
counts AS (
  SELECT doc_id, url, len(toks) AS dl,
         len(list_filter(range(1, greatest(len(toks) - {m - 1}, 0) + 1),
             i -> {adj})) AS phrase_tf
  FROM tokd CROSS JOIN expl
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
