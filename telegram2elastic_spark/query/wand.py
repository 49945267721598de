"""Top-k BM25 over the compressed posting index with block-max pruning.

Distributed shape: the index is document-partitioned (build.py — salt =
pmod(doc_id, P) for every term), so each salt holds a disjoint doc subset and
per-salt top-k is complete.  Query = filter postings to the query terms
(parquet pushdown + term_bucket partition pruning when read from disk) ->
groupBy(salt).applyInPandas kernel (numpy over Arrow batches) -> union of P
local top-ks -> global orderBy/limit merge (the "partial-posting merge" of
north_star).  BM25 norms (doc lengths) are denormalized into each block at
build time (dl_bytes), so the query side touches *only* the query terms'
posting blocks — no doc_map join, no per-query shuffle of corpus-sized state.

Pruning kernel: a TAAT MaxScore variant of the block-max WAND family.
Terms are processed in descending score-upper-bound order; once the summed
upper bound of the remaining terms falls below the running threshold θ
(k-th best accumulated score), no *new* document can enter the top-k, so
later terms only update existing accumulators and skip every block whose
[first_doc_id, last_doc_id] range or block-max bound cannot matter.  Exact
same top-k as the relational scorer (tested rank-identical); pivot-based
DAAT WAND is a drop-in later refinement of the same kernel.

Upper bounds: ub(t) = idf_t * (k1+1) * mtf / (mtf + k1*(1-b)) — the dl->0
limit of the BM25 weight, monotone in tf, so block_max_tf gives a valid
per-block bound (block-max metadata from codec.encode_blocks).
"""

from __future__ import annotations

import os
import warnings

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..index.codec import decode_many, delta_decode, varbyte_decode
from .bm25 import (
    SCORE_DECIMALS,
    ROUND_GUARD,
    QuerySpec,
    bm25_weight,
    idf as bm25_idf,
    query_spec,
    upper_bound,
)

_term_ub = upper_bound  # the name query/bmw.py imports

_EMPTY = pd.DataFrame(
    {"doc_id": pd.Series([], dtype="int64"), "score": pd.Series([], dtype="float64")}
)


def _in_sorted(ids: np.ndarray, sorted_ids: np.ndarray) -> np.ndarray:
    """Membership mask of `ids` in a sorted id array (searchsorted) — the
    doc_filter test every scoring path shares."""
    if sorted_ids.size == 0:
        return np.zeros(ids.shape, dtype=bool)
    pos = np.searchsorted(sorted_ids, ids)
    pos[pos >= sorted_ids.size] = 0
    return sorted_ids[pos] == ids


def _live_mask(
    ids: np.ndarray, tombstones: np.ndarray | None, allowed: np.ndarray | None
) -> np.ndarray | None:
    """Mask of ids neither tombstoned nor outside the doc_filter's
    admitted set; None when nothing is masked."""
    keep = None
    if tombstones is not None and tombstones.size:
        keep = ~np.isin(ids, tombstones)
    if allowed is not None:
        ok = _in_sorted(ids, allowed)
        keep = ok if keep is None else keep & ok
    return keep


def _select(
    ids: np.ndarray,
    sums: np.ndarray,
    k: int,
    hits: np.ndarray | None = None,
    require_all=0,
    tombstones: np.ndarray | None = None,
    allowed: np.ndarray | None = None,
    after: tuple[float, int] | None = None,
    raw_scores: bool = False,
) -> tuple[np.ndarray, np.ndarray]:
    """The selection tail of every index-backed ranker: accumulated
    (doc_id, score sum) -> top-k by (rounded score desc, doc_id asc).

    Scores are rounded BEFORE selection so a partition-local cut uses the
    same order as the global merge (a float-noise "tie" can never drop
    the wrong doc at a partition boundary).  Masks, in order: tombstones
    and must_not ids, the doc_filter's admitted set, the matched-term bar
    (`require_all`, an int or a per-doc array compared with `hits`), and
    the search_after cursor — only docs STRICTLY after (score, doc_id) in
    the ranking order.  `raw_scores` emits the unrounded sums of the
    selected docs (compound callers round once after combining)."""
    keep = _live_mask(ids, tombstones, allowed)
    if np.ndim(require_all) or require_all:
        bar = hits >= require_all
        keep = bar if keep is None else keep & bar
    if keep is not None:
        ids, sums = ids[keep], sums[keep]
    rounded = np.round(sums, SCORE_DECIMALS)
    if after is not None:
        a_score, a_doc = float(after[0]), int(after[1])
        m = (rounded < a_score) | ((rounded == a_score) & (ids > a_doc))
        ids, sums, rounded = ids[m], sums[m], rounded[m]
    if ids.size > 4096 and 0 < k < ids.size:
        # prune to the rounded top-k band (ties kept) before the lexsort
        m = rounded >= np.partition(rounded, ids.size - k)[ids.size - k]
        ids, sums, rounded = ids[m], sums[m], rounded[m]
    top = np.lexsort((ids, -rounded))[:k]
    return ids[top], (sums if raw_scores else rounded)[top]


def _topk_frame(ids: np.ndarray, scores: np.ndarray) -> pd.DataFrame:
    return pd.DataFrame({"doc_id": ids, "score": scores})


def _decode(g: pd.DataFrame) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One term's blocks -> (ids int64, tfs float64, dls float64)."""
    ids, tfs, dls = decode_many(
        [bytes(x) for x in g["doc_gaps"]],
        [bytes(x) for x in g["tf_bytes"]],
        [bytes(x) for x in g["dl_bytes"]],
        g["n_docs"].to_numpy(),
    )
    return ids.astype(np.int64), tfs.astype(np.float64), dls.astype(np.float64)


def _score_salt_group(
    post: pd.DataFrame,
    idfs: dict[str, float],
    avgdl: float,
    k: int,
    tombstones: np.ndarray | None = None,
    allowed: np.ndarray | None = None,
    require_all: int = 0,
    raw_scores: bool = False,
    weights: dict[str, float] | None = None,
    avgdls: dict[str, float] | None = None,
    after: tuple[float, int] | None = None,
) -> pd.DataFrame:
    """Kernel: one salt partition's posting blocks -> local top-k.
    `tombstones`: sorted int64 ids of deleted/edited-away docs (filtered
    post-decode, pre-scoring — Lucene's live-docs check).
    `allowed`: optional sorted int64 ids a document-level filter admits
    (ES filter-context: restricts scored docs, never changes idf); at real
    scale this is a broadcast bitmap, here a sorted array + searchsorted.
    Both masks apply before accumulation, so the MaxScore threshold only
    ever sees scorable docs.
    `raw_scores`: emit unrounded BM25 sums (see _select).
    `weights` / `avgdls` (optional, keyed like idfs): per-term score
    multiplier and length-norm denominator — the multi_match most_fields
    path scores several field indexes in one kernel by keying terms as
    field+term; every upper bound scales by the weight, so MaxScore
    pruning stays exact across fields.
    `after`: ES search_after cursor (rounded_score, doc_id).  Cursor docs
    may rank below the unfiltered top-k, so candidate-generation pruning
    is disabled (full accumulation, like require_all)."""
    if post.empty:
        return _EMPTY.copy()

    # per-term block tables, ordered by descending term upper bound
    terms = []
    for term, g in post.groupby("term", sort=False):
        g = g.sort_values("block_id")
        idf = idfs[term]
        wgt = weights.get(term, 1.0) if weights else 1.0
        av = avgdls[term] if avgdls else avgdl
        ub = upper_bound(wgt * idf, float(g["block_max_tf"].max()))
        terms.append((ub, term, (idf, wgt, av), g))
    terms.sort(key=lambda x: -x[0])
    ubs = np.array([t[0] for t in terms])
    rem_ub = np.concatenate([np.cumsum(ubs[::-1])[::-1], [0.0]])  # rem_ub[j] = sum ubs[j:]

    acc_ids = np.array([], dtype=np.int64)
    acc_scores = np.array([], dtype=np.float64)
    acc_hits = np.array([], dtype=np.int64)

    for j, (ub, term, (idf, wgt, av), g) in enumerate(terms):
        theta = (
            np.partition(acc_scores, -k)[-k] if acc_scores.size >= k else -np.inf
        )
        # conjunctive mode: every term list must be fully decoded (any doc
        # missed in one term can never be reported), so pruning that skips
        # candidate generation is disabled; theta pruning still applies to
        # the final selection.  theta is an unrounded raw score while the
        # final order rounds to SCORE_DECIMALS — subtract ROUND_GUARD so a
        # doc that would round equal to the k-th (and win the doc_id tie)
        # is never pruned.
        allow_new = (
            (rem_ub[j] >= theta - ROUND_GUARD)
            or bool(require_all)
            or after is not None
        )
        firsts = g["first_doc_id"].to_numpy(dtype=np.int64)
        lasts = g["last_doc_id"].to_numpy(dtype=np.int64)
        if allow_new:
            keep = np.ones(len(g), dtype=bool)
        else:
            if acc_ids.size == 0:
                break
            # block-max skipping: keep only blocks that overlap an existing
            # accumulator (range check via searchsorted) and whose bound can
            # still lift an accumulated doc into the top-k.
            bubs = upper_bound(
                wgt * idf, g["block_max_tf"].to_numpy(dtype=np.float64)
            )
            lo = np.searchsorted(acc_ids, firsts, side="left")
            hi = np.searchsorted(acc_ids, lasts, side="right")
            overlaps = hi > lo
            acc_max = acc_scores.max() if acc_scores.size else 0.0
            keep = overlaps & (bubs + acc_max + rem_ub[j + 1] >= theta - ROUND_GUARD)
        if not keep.any():
            continue
        ids, tfs, dls = _decode(g.loc[keep])
        live = _live_mask(ids, tombstones, allowed)
        if live is not None:
            ids, tfs, dls = ids[live], tfs[live], dls[live]
            if ids.size == 0:
                continue
        if not allow_new:
            mask = np.isin(ids, acc_ids, assume_unique=False)
            if not mask.any():
                continue
            ids, tfs, dls = ids[mask], tfs[mask], dls[mask]
        w = wgt * bm25_weight(tfs, dls, av, idf)
        # merge into accumulators (sorted union)
        all_ids = np.concatenate([acc_ids, ids])
        all_sc = np.concatenate([acc_scores, w])
        all_h = np.concatenate([acc_hits, np.ones(ids.size, dtype=np.int64)])
        order = np.argsort(all_ids, kind="stable")
        all_ids, all_sc, all_h = all_ids[order], all_sc[order], all_h[order]
        uniq, starts = np.unique(all_ids, return_index=True)
        sums = np.add.reduceat(all_sc, starts)
        hits = np.add.reduceat(all_h, starts)
        acc_ids, acc_scores, acc_hits = uniq, sums, hits

    return _topk_frame(
        *_select(
            acc_ids, acc_scores, k, hits=acc_hits, require_all=require_all,
            after=after, raw_scores=raw_scores,
        )
    )


def _decode_ids_only(g: pd.DataFrame) -> np.ndarray:
    """Excluded-term blocks -> sorted unique doc ids.  Only the doc_gaps
    column is decoded — tf/dl/positions stay compressed, because must_not
    needs membership, never weights."""
    ids = [
        delta_decode(varbyte_decode(bytes(b))).astype(np.int64)
        for b in g["doc_gaps"]
    ]
    if not ids:
        return np.array([], dtype=np.int64)
    return np.unique(np.concatenate(ids))


def _apply_exclusions(
    pdf: pd.DataFrame, exclude: list[str], tomb: np.ndarray | None
) -> tuple[pd.DataFrame, np.ndarray | None]:
    """Split the must_not terms' blocks out of a salt's postings and fold
    their doc ids into the tombstone mask (ES bool `must_not` is filter
    context: excluded docs are never scored, global stats never change —
    same contract as doc_filter, wand_topk docstring).  Postings are
    doc-partitioned, so a salt's excluded-term blocks cover exactly the
    salt's docs — the exclusion set never crosses the kernel boundary."""
    mask = pdf["term"].isin(exclude)
    if not mask.any():
        return pdf, tomb
    ex_ids = _decode_ids_only(pdf.loc[mask])
    pdf = pdf.loc[~mask]
    if tomb is not None and tomb.size:
        ex_ids = np.union1d(tomb, ex_ids)
    return pdf, ex_ids


def _postings_for_terms(index: dict, terms: list[str]) -> DataFrame:
    """Scan only the query terms' postings.

    Two pruning layers when the index was read from the partitioned disk
    layout: (1) partition pruning — term_bucket values for the query terms
    are computed driver-side (pure-Python XXH64, bit-identical to the
    layout's xxhash64 — zero Spark jobs) and applied as literal predicates
    on the partition column, so only <= |q| of the 64 bucket directories
    are listed/read; (2) parquet row-group pruning via the pushed
    `term IN (...)` filter.  In-memory indexes just get the term
    filter."""
    post = _bucketed(index, index["postings"], terms)
    return post.filter(F.col("term").isin(terms))


def _n_parts(index: dict) -> int:
    from ..index.build import DEFAULT_DOC_PARTS

    return int(index.get("_n_doc_parts", DEFAULT_DOC_PARTS))


def _tomb_df(index: dict) -> DataFrame | None:
    """Tombstoned internal doc ids as a DataFrame (never collected for the
    distributed paths; see _filters_df)."""
    df = index.get("_tombstones_df")
    if df is not None:
        return df
    tomb = index.get("_tombstones") or []
    if not tomb:
        return None
    spark = index["doc_map"].sparkSession
    return spark.createDataFrame([(int(t),) for t in tomb], "doc_id long")


def _tomb_array(index: dict) -> np.ndarray:
    """Sorted tombstone ids materialized in-process — ONLY for the
    query-node-local paths (wand_topk_local / bmw_topk_local), where the
    node deliberately holds hot index state in memory; the distributed
    paths ship tombstones per-salt via cogroup instead (_filters_df)."""
    if "_tomb_arr" not in index:
        tomb = index.get("_tombstones")
        if tomb is None:
            df = index.get("_tombstones_df")
            tomb = [r["doc_id"] for r in df.collect()] if df is not None else []
        index["_tomb_arr"] = np.array(sorted(tomb), dtype=np.int64)
    return index["_tomb_arr"]


def _allowed_ids(index: dict, doc_filter: str | None) -> np.ndarray | None:
    """Document-filter -> sorted allowed-id array.  LOCAL-PATH ONLY: this
    materializes the admitted ids in-process for the query-node paths; the
    distributed kernels receive filter ids per-salt via _filters_df (no
    driver collect).  doc_filter is a SQL predicate over doc_map columns
    (doc_id, url, lang, warc_ts, doc_len), e.g. "lang = 'en'"."""
    if doc_filter is None:
        return None
    ids = [
        r["doc_id"]
        for r in index["doc_map"].filter(doc_filter).select("doc_id").collect()
    ]
    return np.array(sorted(ids), dtype=np.int64)


def _filters_df(
    index: dict, doc_filter: str | dict[str, str] | None
) -> DataFrame | None:
    """Document-level filters as per-salt rows (doc_id, kind, salt), shipped
    to the scoring kernels by cogrouping on salt — never through the driver.

    kind 't' = tombstoned (excluded); 'a' = admitted by doc_filter (ES
    filter-context, poc/src/api/routes/search.py:87-103).  A batch passes
    {kind: predicate} and gets one labelled admitted-id set per distinct
    predicate.  Every doc's postings live in exactly salt = pmod(doc_id,
    P) (document-partitioned layout), so shuffling the filter ids by that
    same salt co-locates them with the posting blocks they govern.  At
    10^12 scale this is a narrow shuffle of the filtered id column
    (distributed), replacing the r1 driver-side collect of corpus-sized
    id sets."""
    if isinstance(doc_filter, str):
        doc_filter = {"a": doc_filter}
    parts = []
    tomb = _tomb_df(index)
    if tomb is not None:
        parts.append(tomb.select("doc_id", F.lit("t").alias("kind")))
    for kind, pred in (doc_filter or {}).items():
        parts.append(
            index["doc_map"]
            .filter(pred)
            .select("doc_id", F.lit(kind).alias("kind"))
        )
    if not parts:
        return None
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.withColumn(
        "salt", F.pmod(F.col("doc_id"), F.lit(_n_parts(index))).cast("int")
    )


def _split_filters(filt: pd.DataFrame, has_allow) -> tuple:
    """Cogrouped filter rows -> (tombstones, allowed) sorted id arrays.
    `has_allow` distinguishes "no doc_filter requested" (allowed=None,
    everything scored) from "filter admits nothing in this salt"
    (allowed=empty, nothing scored); a tuple of kinds (a batch) gets
    allowed as {kind: ids}."""

    def ids_of(kind: str) -> np.ndarray:
        return np.sort(filt.loc[filt["kind"] == kind, "doc_id"].to_numpy(np.int64))

    tomb = ids_of("t")
    if isinstance(has_allow, tuple):
        allowed = {kind: ids_of(kind) for kind in has_allow}
    else:
        allowed = ids_of("a") if has_allow else None
    return (tomb if tomb.size else None), allowed


def _salt_scored(
    post: DataFrame,
    filt: DataFrame | None,
    has_allow,
    kernel,
    out_schema: str,
) -> DataFrame:
    """Run a per-salt scoring kernel, cogrouping in the per-salt filter ids
    when any document-level filter exists.  kernel(post_pdf, tomb, allowed)
    -> pdf matching out_schema (allowed as _split_filters gives it)."""
    if filt is None:
        return post.groupBy("salt").applyInPandas(
            lambda pdf: kernel(pdf, None, None), out_schema
        )

    def cokernel(post_pdf: pd.DataFrame, filt_pdf: pd.DataFrame) -> pd.DataFrame:
        tomb, allowed = _split_filters(filt_pdf, has_allow)
        return kernel(post_pdf, tomb, allowed)

    return (
        post.groupBy("salt")
        .cogroup(filt.groupBy("salt"))
        .applyInPandas(cokernel, out_schema)
    )


def _query_idfs(
    index: dict,
    spec: QuerySpec,
    stats_override: tuple[dict, float] | None = None,
    source=None,
) -> tuple[dict, float] | None:
    """idfs and avgdl for a normalised query — from `source(index, terms)`
    (default _collect_idfs) or from `stats_override=(idfs, avgdl)`, the
    EXTERNAL statistics of the dfs_query_then_fetch seam, restricted to
    the query's terms.  None when too few of the terms exist for any doc
    to reach spec.require_all."""
    if stats_override is not None:
        ext, avgdl = stats_override
        idfs = {t: float(ext[t]) for t in spec.terms if ext.get(t) is not None}
    else:
        idfs, avgdl = (source or _collect_idfs)(index, spec.terms)
    if not idfs or spec.require_all > len(idfs):
        return None
    return idfs, float(avgdl)


_URL_FILL_TYPES = {
    "query_id": "int", "doc_id": "long", "url": "string", "score": "double",
}


def _with_urls(index: dict, topk, ordered: bool = True) -> DataFrame:
    """The url fill of every scored top-k: `topk` (k-row bounded, a Spark
    or a driver-side pandas frame) gains `url` after `doc_id`, ordered by
    (query_id,) score desc, doc_id asc.  A pandas top-k on a written index
    reads its urls driver-side with pyarrow and returns a local relation
    — no join job over the corpus-sized doc_map (inner merge == inner
    join, same parquet rows).  Otherwise the k-row side is broadcast, so
    doc_map is scanned map-side and never shuffled per query."""
    cols = [
        c for col in topk.columns
        for c in ((col, "url") if col == "doc_id" else (col,))
    ]
    lead = ["query_id"] if "query_id" in topk.columns else []
    spark = index["doc_map"].sparkSession
    if isinstance(topk, pd.DataFrame):
        urls = _arrow_read(
            index, "doc_map", ["doc_id", "url"],
            {"doc_id": sorted({int(d) for d in topk["doc_id"]})},
        )
        if urls is None:
            topk = spark.createDataFrame(
                topk,
                ", ".join(f"{c} {_URL_FILL_TYPES[c]}" for c in topk.columns),
            )
        else:
            out = topk.merge(urls.to_pandas(), on="doc_id", how="inner")
            out = out.sort_values(
                lead + ["score", "doc_id"],
                ascending=[True] * len(lead) + [False, True],
                kind="mergesort",
            )
            return spark.createDataFrame(
                out[cols], ", ".join(f"{c} {_URL_FILL_TYPES[c]}" for c in cols)
            )
    out = (
        index["doc_map"]
        .select("doc_id", "url")
        .join(F.broadcast(topk), "doc_id", "inner")
        .select(*cols)
    )
    if not ordered:
        return out
    return out.orderBy(*lead, F.desc("score"), F.asc("doc_id"))


def wand_topk(
    index: dict,
    terms: list[str],
    k: int = 10,
    doc_filter: str | None = None,
    conjunctive: bool = False,
    algo: str = "maxscore",
    min_should_match: int = 0,
    exclude_terms: list[str] | None = None,
    after: tuple[float, int] | None = None,
    stats_override: tuple[dict, float] | None = None,
) -> DataFrame:
    """Top-k (doc_id, url, score) from the compressed index.

    `stats_override=(idfs, avgdl)` scores with EXTERNAL statistics
    instead of this index's own — the dfs_query_then_fetch seam: the
    federated coordinator merges df/N/avgdl across indexes driver-side
    and every shard then ranks against the same global idf.  MaxScore
    upper bounds derive from whatever idfs are in force, so pruning
    stays exact under an override.

    Driver-side: collect idf inputs for the |q| query terms (tiny — a
    broadcast in closure form) and global stats; executors only ever see
    the query terms' posting blocks.  `doc_filter` applies a document-level
    predicate pre-scoring with ES filter-context semantics (global stats) —
    rank-identical to bm25_topk(..., global_stats=True).  Filter/tombstone
    ids reach the kernels per-salt via cogroup (executor-side), never as a
    driver-collected closure.

    ES bool-query knobs:
      * `min_should_match=m` — a doc must match >= m distinct query terms
        ("minimum_should_match"); `conjunctive` is the m = |terms| sugar.
        Matching-term counts require full accumulation, so candidate-
        generation pruning is disabled (like conjunctive); theta pruning
        still bounds the final selection.
      * `exclude_terms` — bool `must_not`: docs containing ANY excluded
        term are dropped pre-scoring, in filter context (idf/avgdl/N stay
        global).  Exclusion ids are decoded from the excluded terms' own
        posting blocks inside each salt kernel (ids only — tf/dl stay
        compressed) and never leave the executor.

    `algo`: "maxscore" (default, vectorized TAAT block-max family) or
    "bmw" (classical pivot DAAT block-max WAND cursors, query/bmw.py) —
    both rank-exact, same distributed shape (per-salt kernel + k-way
    merge); bmw implements only the plain disjunctive top-k.
    """
    if algo not in ("maxscore", "bmw"):
        raise ValueError(f"unknown algo {algo!r}")
    spec = query_spec(terms, conjunctive, min_should_match, exclude_terms)
    if algo == "bmw" and (spec.require_all or spec.exclude or after):
        raise ValueError(
            "algo='bmw' implements the plain disjunctive top-k only"
        )
    resolved = _query_idfs(index, spec, stats_override)
    if resolved is None:
        return index["doc_map"].sparkSession.createDataFrame(
            [], "doc_id long, url string, score double"
        )
    idfs, avgdl = resolved
    exclude = spec.exclude
    post = _postings_for_terms(index, sorted(set(idfs) | set(exclude)))
    filt = _filters_df(index, doc_filter)

    if algo == "bmw":
        from .bmw import bmw_salt_kernel

        def kernel(pdf, tomb, allowed):
            return bmw_salt_kernel(
                pdf, idfs, avgdl, k, tombstones=tomb, allowed=allowed
            )
    else:

        def kernel(pdf, tomb, allowed):
            if exclude:
                pdf, tomb = _apply_exclusions(pdf, exclude, tomb)
            return _score_salt_group(
                pdf, idfs, avgdl, k, tombstones=tomb, allowed=allowed,
                require_all=spec.require_all, after=after,
            )

    local = _salt_scored(
        post, filt, doc_filter is not None, kernel, "doc_id long, score double"
    )
    return _with_urls(
        index, local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    )


def _term_buckets(terms) -> list[int]:
    """term_bucket partition values of `terms`: pmod(xxhash64(term),
    N_TERM_BUCKETS) computed driver-side (bit-identical pure-Python
    XXH64), so pruning a cold query's scan costs no Spark job.  Every
    index is written with N_TERM_BUCKETS, so the Spark and the pyarrow
    routes prune with the same constant the layout used."""
    from ..functions.xxhash import term_bucket
    from ..index.build import N_TERM_BUCKETS

    return sorted({term_bucket(t, N_TERM_BUCKETS) for t in terms})


def _bucketed(index: dict, df: DataFrame, terms: list[str]) -> DataFrame:
    """Add term_bucket literal predicates (partition pruning) when the
    table carries the partition column — used for both postings and
    term_dict scans so a |q|-term lookup touches <= |q| of the 64 bucket
    dirs."""
    if "term_bucket" not in df.columns:
        return df
    return df.filter(F.col("term_bucket").isin(_term_buckets(terms)))


#: written tables the driver may read itself: the handle's directory key,
#: its memoised dataset key and the directory's partitioning
_ARROW_TABLES = {
    "postings": ("_postings_dir", "_post_ds", "hive"),
    "term_dict": ("_term_dict_dir", "_td_ds", "hive"),
    "stats": ("_stats_dir", "_stats_ds", None),
    "doc_map": ("_doc_map_dir", "_dm_ds", None),
}

#: size guard for the driver-local url fill: the doc_map table is
#: unsorted, so the k-row isin filter still reads the whole (doc_id, url)
#: projection — fine for a serving node's local index, unacceptable for a
#: cluster-scale doc_map, which keeps the broadcast-join route.
_DOC_MAP_LOCAL_MAX_BYTES = 2 << 30


def _arrow_fallback(index: dict, table: str, err: Exception) -> None:
    """Warn once per handle and cause that a driver-side read fell back to
    the Spark route (same rows, slower) — a corrupt file or a pyarrow
    regression must not hide as a slower query."""
    seen = index.setdefault("_arrow_warned", set())
    cause = (table, type(err).__name__)
    if cause not in seen:
        seen.add(cause)
        warnings.warn(
            f"driver-side pyarrow read of the {table} table failed "
            f"({type(err).__name__}: {err}); using the Spark route",
            RuntimeWarning,
            stacklevel=3,
        )


def _arrow_read(index: dict, table: str, columns: list[str], where=None):
    """Driver-side pyarrow read of a written index table -> pyarrow Table,
    the query-node serving pattern query/docstore.py and fuzzy.py use.
    `where` maps column -> admitted values (ANDed `isin` filters).  The
    Spark route reads the same parquet files with the same partition
    pruning and filters, so the rows are the same; only the fetch engine
    changes (a |q|-row lookup no longer costs a Spark job).  The opened
    dataset (file listing + parquet footers) is memoised on the handle.

    None -> the caller takes the Spark route: silently when no local
    directory backs the handle (in-memory build, multi-segment view,
    remote URI, swapped table, doc_map above its size guard), with a
    one-time warning (_arrow_fallback) when the read itself fails."""
    dir_key, memo_key, partitioning = _ARROW_TABLES[table]
    path = index.get(dir_key)
    if not path:
        return None
    try:
        import pyarrow as pa
        import pyarrow.dataset as ds
    except ImportError as e:
        _arrow_fallback(index, table, e)
        return None
    try:
        src = index.get(memo_key)
        if src is None:
            if not os.path.isdir(path):
                return None
            if table == "doc_map" and sum(
                os.path.getsize(os.path.join(r, f))
                for r, _, fs in os.walk(path)
                for f in fs
            ) > _DOC_MAP_LOCAL_MAX_BYTES:
                index[dir_key] = None  # don't re-stat every call
                return None
            src = ds.dataset(path, format="parquet", partitioning=partitioning)
            index[memo_key] = src
        filt = None
        for col, vals in (where or {}).items():
            e = ds.field(col).isin(vals)
            filt = e if filt is None else filt & e
        return src.to_table(columns=columns, filter=filt)
    except (OSError, pa.ArrowInvalid, KeyError) as e:
        _arrow_fallback(index, table, e)
        return None


def _term_where(terms: list[str]) -> dict:
    return {"term_bucket": _term_buckets(terms), "term": list(terms)}


def _index_stats(index: dict) -> tuple[int, float]:
    """Per-index memoized (n_docs, avgdl) — one tiny metadata fetch per
    index handle, shared by every query path.  A written index's 1-row
    stats table is read driver-side (pyarrow) instead of through a Spark
    action — same parquet values either way."""
    if "_stats" not in index:
        t = _arrow_read(index, "stats", ["n_docs", "avgdl"])
        if t is not None and t.num_rows:
            row = (t["n_docs"][0].as_py(), t["avgdl"][0].as_py())
        else:
            row = index["stats"].select("n_docs", "avgdl").first()
        n, avgdl = row
        # empty corpus: avgdl is NULL; any positive value works (no postings)
        index["_stats"] = (int(n or 0), float(avgdl) if avgdl else 1.0)
    return index["_stats"]


def _fill_idfs(index: dict, terms: list[str], dfs_of) -> tuple[dict, float]:
    """The one idf cache fill: idf per term memoised on the handle (None =
    zero-hit term), missing dfs fetched by `dfs_of(index, missing) ->
    {term: df}`.  Every route yields the same integer df, so the cached
    idfs are bit-equal whichever route filled them."""
    cache = index.setdefault("_idf_cache", {})
    missing = sorted({t for t in terms if t not in cache})
    if missing:
        dfs = dfs_of(index, missing)
        n, _ = _index_stats(index)
        for t in missing:
            df = dfs.get(t)
            cache[t] = None if df is None else float(bm25_idf(n, int(df)))
    n, avgdl = _index_stats(index)
    return {t: cache[t] for t in terms if cache.get(t) is not None}, avgdl


def _term_dfs(index: dict, terms: list[str]) -> dict[str, int]:
    """(term -> df) from the bucket-pruned term_dict: a driver-local
    pyarrow read on a written index, else one Spark action.  On a fresh
    handle the 1-row stats ride the Spark lookup as a crossJoin — one
    action instead of two for a cold index (guide §1: per-action
    overhead dominates these driver-side metadata fetches)."""
    t = _arrow_read(index, "term_dict", ["term", "df"], _term_where(terms))
    if t is not None:
        return {
            term: int(df)
            for term, df in zip(t["term"].to_pylist(), t["df"].to_pylist())
        }
    q = (
        _bucketed(index, index["term_dict"], terms)
        .filter(F.col("term").isin(terms))
        .select("term", "df")
    )
    if "_stats" in index:
        rows = q.collect()
    else:
        rows = q.crossJoin(index["stats"].select("n_docs", "avgdl")).collect()
        if rows:
            n0, a0 = rows[0]["n_docs"], rows[0]["avgdl"]
            index["_stats"] = (int(n0 or 0), float(a0) if a0 else 1.0)
    return {r["term"]: int(r["df"]) for r in rows}


def _block_dfs(index: dict, terms: list[str]) -> dict[str, int]:
    """(term -> df) WITHOUT a term_dict scan: sum(block n_docs) over every
    salt (and, for multi-segment views, every segment) equals term_dict's
    df, because the blocks partition exactly the (term, doc) pairs
    term_dict counts and neither side is tombstone-adjusted (as_index
    sums per-segment df the same way).  One pruned postings fetch
    therefore warms BOTH the block cache and the idf cache: a cold local
    query costs one fetch, not two (guide §1 — measured, the second job
    was ~half of cold-query latency)."""
    _local_blocks(index, terms, [])
    blocks = index["_local_post_cache"]
    return {
        t: int(blocks[t]["n_docs"].sum())
        for t in terms
        if blocks.get(t) is not None
    }


def _collect_idfs(index: dict, terms: list[str]) -> tuple[dict, float]:
    """Per-index memoized global stats + per-term idfs from term_dict."""
    return _fill_idfs(index, terms, _term_dfs)


def _local_idfs(index: dict, terms: list[str]) -> tuple[dict, float]:
    """idfs for the query-node-local paths, derived from the posting
    blocks they fetch anyway (_block_dfs)."""
    return _fill_idfs(index, terms, _block_dfs)


#: upper bound on per-salt top-k rows merged driver-side by
#: wand_topk_batch (n_salts x live queries x k); above it the reduce
#: stays a distributed window — a scale guard, not a tuning knob.
_DRIVER_MERGE_MAX_ROWS = 262_144


def wand_topk_batch(
    index: dict,
    queries: dict[int, list[str]],
    k: int = 10,
    doc_filter: str | dict[int, str] | None = None,
    min_should_match: dict[int, int] | int | None = None,
    exclude_terms: dict[int, list[str]] | None = None,
    after: dict[int, tuple[float, int]] | None = None,
) -> DataFrame:
    """Answer a whole query batch in ONE Spark job (the server pattern:
    per-query Spark-job overhead is ~2 s in local mode, ~100x the kernel
    compute, so the query set is executed as a single applyInPandas stage
    and a single per-query top-k window).

    `doc_filter` is ES-msearch filter context: one shared predicate
    (str), or a per-query-id dict — each query scored only over the docs
    its own predicate admits, global stats untouched.  Distinct
    predicates are DEDUPLICATED (two queries sharing "lang = 'en'" ship
    one admitted-id set), and every set reaches the kernels per-salt via
    cogroup like the single-query path — never a driver collect.
    `min_should_match` (int = same bar for every query, or per-query-id
    dict) and `exclude_terms` (per-query-id dict) carry wand_topk's bool
    knobs into the batch: hit counts fall out of the shared per-term
    decode cache, and a query's excluded terms reuse the same cache for
    membership — excluded-term blocks are decoded at most once per salt
    even when several queries exclude them.  `after` (per-query-id
    (score, doc_id) cursor dict) pages each query independently —
    wand_topk's search_after contract, applied per query at reduce time.
    Every query is normalised like wand_topk's (query_spec).

    Returns (query_id, doc_id, url, score), top-k per query, ordered.
    """
    spark = index["doc_map"].sparkSession
    # per-query predicates -> one admitted-id kind per DISTINCT predicate
    if doc_filter is None:
        pred_of: dict[int, str] = {}
    elif isinstance(doc_filter, str):
        pred_of = {qid: doc_filter for qid in queries}
    else:
        pred_of = {qid: p for qid, p in doc_filter.items() if p is not None}
    kinds: dict[str, str] = {}
    for p in pred_of.values():
        kinds.setdefault(p, f"a{len(kinds)}")
    if isinstance(min_should_match, int):
        msm = {qid: min_should_match for qid in queries}
    else:
        msm = dict(min_should_match or {})
    excl = exclude_terms or {}
    cursors = after or {}
    all_terms = sorted({t for ts in queries.values() for t in ts})
    idfs, avgdl = _collect_idfs(index, all_terms)

    def batch_idfs(_index, terms):
        return {t: idfs[t] for t in terms if t in idfs}, avgdl

    live: dict[int, tuple[QuerySpec, list[str]]] = {}
    for qid, ts in queries.items():
        spec = query_spec(
            ts, min_should_match=msm.get(qid, 0), exclude_terms=excl.get(qid)
        )
        resolved = _query_idfs(index, spec, source=batch_idfs)
        if resolved is not None:
            live[qid] = (spec, sorted(resolved[0]))
    empty = spark.createDataFrame(
        [], "query_id int, doc_id long, url string, score double"
    )
    if not live:
        return empty

    post = _postings_for_terms(
        index,
        sorted(
            {t for _, ts in live.values() for t in ts}
            | {t for spec, _ in live.values() for t in spec.exclude}
        ),
    )
    filt = _filters_df(index, {kd: p for p, kd in kinds.items()})

    def kernel(pdf: pd.DataFrame, tomb, allowed) -> pd.DataFrame:
        # Queries in a batch share Zipf-head terms ("the", "data", ...);
        # decode each term's blocks ONCE per salt and cache the per-doc
        # BM25 contributions — each query then reduces cached arrays.
        # Full accumulation (no WAND skip) is rank-identical: pruning only
        # ever drops provably-sub-top-k docs, and here decode cost is
        # already amortized across the batch.
        by_term = {t: g for t, g in pdf.groupby("term", sort=False)}
        cache: dict[str, tuple[np.ndarray, np.ndarray] | None] = {}
        excl_cache: dict[str, np.ndarray] = {}

        def excl_member_ids(t: str) -> np.ndarray:
            # must_not needs MEMBERSHIP only: decode doc_gaps alone (tf/dl
            # stay compressed) and never touch idfs — an excluded term is
            # usually not a query term, so it has no idf entry at all.
            if t not in excl_cache:
                g = by_term.get(t)
                excl_cache[t] = (
                    _decode_ids_only(g)
                    if g is not None
                    else np.array([], dtype=np.int64)
                )
            return excl_cache[t]

        def term_contrib(t: str) -> tuple[np.ndarray, np.ndarray] | None:
            if t not in cache:
                g = by_term.get(t)
                if g is None:
                    cache[t] = None
                else:
                    ids, tfs, dls = _decode(g.sort_values("block_id"))
                    live_m = _live_mask(ids, tomb, None)
                    if live_m is not None:
                        ids, tfs, dls = ids[live_m], tfs[live_m], dls[live_m]
                    # per-query doc_filters apply at selection, NOT here —
                    # the decode cache must stay filter-agnostic to be shared
                    cache[t] = (ids, bm25_weight(tfs, dls, avgdl, idfs[t]))
            return cache[t]

        outs = []
        for qid, (spec, ts) in live.items():
            arrs = [a for a in (term_contrib(t) for t in ts) if a is not None]
            if not arrs or not any(a[0].size for a in arrs):
                continue
            all_ids = np.concatenate([a[0] for a in arrs])
            all_w = np.concatenate([a[1] for a in arrs])
            order = np.argsort(all_ids, kind="stable")
            all_ids, all_w = all_ids[order], all_w[order]
            uniq, starts = np.unique(all_ids, return_index=True)
            # hit count per doc = run length of each unique id (every
            # distinct term contributes one posting per doc)
            hits = np.diff(np.append(starts, all_ids.size))
            ex = [a for a in map(excl_member_ids, spec.exclude) if a.size]
            kind = kinds.get(pred_of.get(qid))
            ids, scores = _select(
                uniq, np.add.reduceat(all_w, starts), k,
                hits=hits, require_all=spec.require_all,
                tombstones=np.unique(np.concatenate(ex)) if ex else None,
                allowed=allowed[kind] if kind else None,
                after=cursors.get(qid),
            )
            if ids.size:
                outs.append(
                    pd.DataFrame(
                        {
                            "query_id": np.full(ids.size, qid, dtype=np.int32),
                            "doc_id": ids,
                            "score": scores,
                        }
                    )
                )
        if not outs:
            return pd.DataFrame(
                {
                    "query_id": pd.Series([], dtype="int32"),
                    "doc_id": pd.Series([], dtype="int64"),
                    "score": pd.Series([], dtype="float64"),
                }
            )
        return pd.concat(outs, ignore_index=True)

    local = _salt_scored(
        post, filt, tuple(kinds.values()), kernel,
        "query_id int, doc_id long, score double",
    )
    # Reduce: k-way merge of the per-salt top-ks.  `local` is k-row
    # bounded (<= n_salts * k rows per query), so for serving-sized
    # batches the merge is done driver-side in one pass — the query-node
    # reduce, same k-row-collect class as wand_topk_local — which drops
    # the window shuffle + separate broadcast job from the plan (2 fewer
    # stages per batch), and the url fill reads doc_map driver-side too.
    # Above _DRIVER_MERGE_MAX_ROWS (huge fan-out x thousand-query batches
    # on a big cluster) the distributed window reduce is kept — identical
    # results either way.
    if _n_parts(index) * len(live) * k <= _DRIVER_MERGE_MAX_ROWS:
        rows = local.toPandas()
        if rows.empty:
            return empty
        rows = rows.sort_values(
            ["query_id", "score", "doc_id"],
            ascending=[True, False, True],
            kind="mergesort",
        )
        return _with_urls(index, rows.groupby("query_id", sort=False).head(k))
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return _with_urls(
        index,
        local.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn"),
    )


_LOCAL_FETCH_COLS = [
    "term", "block_id", "n_docs", "first_doc_id", "last_doc_id",
    "doc_gaps", "tf_bytes", "dl_bytes", "block_max_tf",
]


def _pyarrow_blocks(index: dict, terms: list[str]) -> pd.DataFrame | None:
    """Bucket-pruned driver-local read of the written postings table
    (_arrow_read) — measured 8 cold queries 1.3 s -> 0.47 s
    (jobs/probe_wandlocal.py, rank-identity asserted), because a cold
    term no longer pays a whole Spark job for a few MB of blocks.  None
    -> the caller takes the Spark fetch."""
    t = _arrow_read(index, "postings", _LOCAL_FETCH_COLS, _term_where(terms))
    return None if t is None else t.to_pandas()


def _local_blocks(
    index: dict, scan_terms: list[str], want_terms: list[str]
) -> pd.DataFrame | None:
    """Hot-shard cache: posting blocks are fetched per term once and kept
    driver-side (what a query node keeps in memory); repeated terms across
    the query stream skip Spark entirely.  Fetches `scan_terms` into the
    cache, returns the concatenated blocks of `want_terms` (None if none
    have postings).

    Cold fetch engine: a written single-segment index (read_index sets
    _postings_dir) is read driver-side via pyarrow — same files, same
    bucket pruning, no Spark job (see _pyarrow_blocks).  Every other
    handle (in-memory build, as_index multi-segment union, resized
    postings) takes the pruned Spark fetch.  Consumers are fetch-order
    agnostic: each one either re-sorts by block_id per term (unique
    within a segment) or re-sorts decoded ids, so the two engines are
    interchangeable row-set-wise (probe asserts rank identity)."""
    cache = index.setdefault("_local_post_cache", {})
    missing = [t for t in scan_terms if t not in cache]
    if missing:
        fetched = _pyarrow_blocks(index, missing)
        if fetched is None:
            fetched = (
                _postings_for_terms(index, missing)
                .select(*_LOCAL_FETCH_COLS)
                .toPandas()
            )
        for t, g in fetched.groupby("term", sort=False):
            cache[t] = g
        for t in missing:
            cache.setdefault(t, None)
    parts = [cache[t] for t in want_terms if cache.get(t) is not None]
    if not parts:
        return None
    return pd.concat(parts, ignore_index=True)


#: cap on total decoded postings kept resident by the local query node
#: (ids+tf+dl ≈ 24 B/posting → 50M ≈ 1.2 GB, the order of a Lucene
#: node's hot page cache).  FIFO eviction; encoded blocks stay in
#: _local_post_cache so an evicted term re-decodes without a Spark job.
_LOCAL_DECODE_CAP = 50_000_000


def _term_arrays(index: dict, term: str) -> tuple | None:
    """Decoded, doc_id-sorted (ids, tfs, dls) for one term's full posting
    list, kept resident on the index handle — the in-memory hot-postings
    a warm query node holds (the decode analogue of _local_blocks' block
    cache).  Repeated queries over the same term skip both Spark and the
    varbyte decode.  None if the term has no postings."""
    cache = index.setdefault("_local_decoded", {})
    if term in cache:
        return cache[term]
    g = _local_blocks(index, [term], [term])
    if g is None:
        cache[term] = None
        return None
    ids, tfs, dls = _decode(g)
    order = np.argsort(ids, kind="stable")
    entry = (ids[order], tfs[order], dls[order])
    index["_local_decoded_n"] = index.get("_local_decoded_n", 0) + ids.size
    cache[term] = entry
    while index["_local_decoded_n"] > _LOCAL_DECODE_CAP and len(cache) > 1:
        old_t = next(iter(cache))
        if old_t == term:
            break
        old = cache.pop(old_t)
        if old is not None:
            index["_local_decoded_n"] -= old[0].size
    return entry


def wand_topk_local(
    index: dict,
    terms: list[str],
    k: int = 10,
    doc_filter: str | None = None,
    conjunctive: bool = False,
    min_should_match: int = 0,
    exclude_terms: list[str] | None = None,
    after: tuple[float, int] | None = None,
    stats_override: tuple[dict, float] | None = None,
) -> list[tuple]:
    """Low-latency single-query path: the driver acts as the query node.

    One Spark action warms any cold terms' posting blocks (partition-
    pruned, a few MB even for Zipf-head terms at bench scale); decoded
    postings stay resident per term (_term_arrays), so a warm query is a
    single vectorized merge over in-memory arrays — no Spark, no varbyte
    decode, no per-term accumulator re-sort.  Full accumulation (not
    MaxScore candidate pruning): with the decode amortized away, one
    argsort+reduceat over the query terms' postings is cheaper and
    trivially exact.  At true 10^12 scale a query node would hold the hot
    term shards exactly like this; the executor path
    (wand_topk/wand_topk_batch) remains the fan-out for fat queries.
    `min_should_match` / `exclude_terms` follow wand_topk's contract.

    Returns [(doc_id, score), ...] rank-identical to wand_topk.
    """
    spec = query_spec(terms, conjunctive, min_should_match, exclude_terms)
    # prefetch every cold term's blocks (query + must_not) in ONE pruned
    # fetch; for the default stats path _local_idfs then derives the
    # idfs from the cached blocks, so a cold query pays exactly one
    # fetch (the r5 shape was two: term_dict scan + block fetch)
    blocks = index.setdefault("_local_post_cache", {})
    prefetch = [
        t for t in sorted(set(spec.terms) | set(spec.exclude)) if t not in blocks
    ]
    if prefetch:
        _local_blocks(index, prefetch, [])
    resolved = _query_idfs(index, spec, stats_override, _local_idfs)
    if resolved is None:
        return []
    idfs, avgdl = resolved
    tomb = _tomb_array(index)
    if spec.exclude:
        ex_parts = [
            a[0] for a in (_term_arrays(index, t) for t in spec.exclude)
            if a is not None
        ]
        if ex_parts:
            ex_ids = np.unique(np.concatenate(ex_parts))
            tomb = np.union1d(tomb, ex_ids) if tomb.size else ex_ids
    allowed = _allowed_ids(index, doc_filter)
    parts_ids, parts_w = [], []
    for t in sorted(idfs):
        arr = _term_arrays(index, t)
        if arr is None:
            continue
        ids, tfs, dls = arr
        parts_ids.append(ids)
        parts_w.append(bm25_weight(tfs, dls, avgdl, idfs[t]))
    if not parts_ids:
        return []
    all_ids = np.concatenate(parts_ids)
    all_w = np.concatenate(parts_w)
    lo, hi = int(all_ids.min()), int(all_ids.max())
    span = hi - lo + 1
    if span <= max(8_000_000, 4 * all_ids.size):
        # Dense accumulators over the node's doc-id window — the Lucene
        # shape (scoring runs per segment over a dense segment-local
        # docID space, so the accumulator is bounded by segment size,
        # never corpus size).  O(postings) with no sort.
        off = all_ids - lo
        sums_d = np.bincount(off, weights=all_w, minlength=span)
        hits_d = np.bincount(off, minlength=span)
        nz = np.flatnonzero(hits_d)
        uniq = nz + lo
        sums = sums_d[nz]
        hits = hits_d[nz]
    else:
        order = np.argsort(all_ids, kind="stable")
        all_ids, all_w = all_ids[order], all_w[order]
        bounds = np.flatnonzero(
            np.concatenate(([True], all_ids[1:] != all_ids[:-1]))
        )
        uniq = all_ids[bounds]
        sums = np.add.reduceat(all_w, bounds)
        hits = np.diff(np.append(bounds, all_ids.size))
    ids, scores = _select(
        uniq, sums, k, hits=hits, require_all=spec.require_all,
        tombstones=tomb, allowed=allowed, after=after,
    )
    return list(zip(ids.tolist(), scores.tolist()))
