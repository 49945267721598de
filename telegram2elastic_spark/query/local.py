"""Driver-local query-node paths for the expansion-based ES-surface ops.

wand/phrase/compound/fuzzy already have *_local paths (the driver acts as
the query node holding hot index state: one pruned Spark fetch warms each
cache, then queries run in-process — wand.wand_topk_local docstring).
This module extends the pattern to the ops whose first step is a
term-dictionary expansion: prefix, wildcard, the completion and spelling
suggesters, more_like_this, highlight and rescore.  Expansion becomes a
driver-side lookup against the cached sorted vocabulary (the analogue of
the Lucene terms-index FST a query node memory-maps); retrieval reuses
wand_topk_local's hot-shard postings cache.  Ops that need stored fields
(MLT source text, highlight snippets, rescore timestamps) do a k-row
doc-store point read: a driver-local pyarrow read of the sorted
stored-fields store when the index has one (query/docstore.py — no Spark
job at all), else one pruned k-row Spark fetch; everything else runs
without any Spark job once warm.

Memory honesty: the vocab cache holds (term, df, cf) for the whole
vocabulary.  Heaps' law puts web-scale vocabulary at ~10^8 terms (a few
GB) — the same order as Lucene's per-node terms index, paid once per
index, not per query.  The distributed paths (expand.py / suggest.py /
mlt.py / highlight.py) remain the fan-out shape for cold nodes and for
vocabularies that outgrow the driver.

Each *_local result is rank-identical to its Spark-path twin (tested in
tests/test_local_paths.py).
"""

from __future__ import annotations

import math
import re
from collections import Counter

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.tokenizer import py_tokenize
from .bm25 import SCORE_DECIMALS, bm25_weight

#: cap on resident stored-field rows in a handle's "_doc_cache" (ADVICE
#: r5, low: unbounded growth on a long-lived serving handle).  ~1 KB/doc
#: typical stored fields -> ~100 MB ceiling, the order of a query node's
#: doc-value cache; FIFO eviction, and the encoded store stays on disk so
#: an evicted doc is one point read away.
DOC_CACHE_MAX_ENTRIES = 100_000
from .expand import DEFAULT_MAX_EXPANSIONS, wildcard_regex
from .mlt import MAX_QUERY_TERMS, _interesting_terms
from .suggest import _py_trigrams
from .wand import wand_topk_local


def _vocab(index: dict) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(terms, df, cf) sorted by term, fetched once per index (one Spark
    job — the FST load) and cached driver-side."""
    if "_vocab_cache" not in index:
        pdf = (
            index["term_dict"]
            .select("term", "df", "cf")
            .toPandas()
            .sort_values("term", ignore_index=True)
        )
        index["_vocab_cache"] = (
            pdf["term"].to_numpy(dtype=object),
            pdf["df"].to_numpy(dtype=np.int64),
            pdf["cf"].to_numpy(dtype=np.int64),
        )
    return index["_vocab_cache"]


def _prefix_slice(terms: np.ndarray, prefix: str) -> slice:
    """Index range of terms starting with `prefix` in the sorted vocab —
    two binary searches, the FST walk."""
    lo = np.searchsorted(terms, prefix, side="left")
    hi = np.searchsorted(terms, prefix + "\U0010FFFF", side="right")
    return slice(int(lo), int(hi))


def expand_prefix_local(
    index: dict, prefix: str, max_expansions: int = DEFAULT_MAX_EXPANSIONS
) -> list[str]:
    terms, _, _ = _vocab(index)
    sel = terms[_prefix_slice(terms, prefix)]
    return [str(t) for t in sel[: int(max_expansions)]]


def expand_wildcard_local(
    index: dict, pattern: str, max_expansions: int = DEFAULT_MAX_EXPANSIONS
) -> list[str]:
    terms, _, _ = _vocab(index)
    lit_prefix = re.match(r"^[^*?]*", pattern).group(0)
    cand = terms[_prefix_slice(terms, lit_prefix)] if lit_prefix else terms
    rx = re.compile(wildcard_regex(pattern))
    out = []
    for t in cand:
        if rx.match(t):
            out.append(str(t))
            if len(out) >= int(max_expansions):
                break
    return out


def prefix_topk_local(
    index: dict,
    prefix: str,
    k: int = 10,
    max_expansions: int = DEFAULT_MAX_EXPANSIONS,
    doc_filter: str | None = None,
) -> list[tuple]:
    """[(doc_id, score)] — rank-identical to expand.prefix_topk."""
    terms = expand_prefix_local(index, prefix, max_expansions)
    if not terms:
        return []
    return wand_topk_local(index, terms, k=k, doc_filter=doc_filter)


def wildcard_topk_local(
    index: dict,
    pattern: str,
    k: int = 10,
    max_expansions: int = DEFAULT_MAX_EXPANSIONS,
    doc_filter: str | None = None,
) -> list[tuple]:
    """[(doc_id, score)] — rank-identical to expand.wildcard_topk."""
    terms = expand_wildcard_local(index, pattern, max_expansions)
    if not terms:
        return []
    return wand_topk_local(index, terms, k=k, doc_filter=doc_filter)


def suggest_complete_local(index: dict, prefix: str, k: int = 10) -> list[tuple]:
    """[(term, cf)] completions, cf desc / term asc — zero Spark jobs
    once the vocab is warm."""
    terms, _, cf = _vocab(index)
    sl = _prefix_slice(terms, prefix)
    t_sel, c_sel = terms[sl], cf[sl]
    order = sorted(range(t_sel.size), key=lambda i: (-c_sel[i], t_sel[i]))
    return [(str(t_sel[i]), int(c_sel[i])) for i in order[: int(k)]]


def _vocab_gin(index: dict) -> tuple[dict, np.ndarray]:
    """Trigram inverted index over the vocabulary (gram -> sorted term
    indices) + per-term distinct-gram counts; built once, cached.  This is
    suggest.py's candidate generation flipped to the query-node shape —
    terms sharing no trigram with the query have sim 0 and are never
    touched."""
    if "_vocab_gin" not in index:
        terms, _, _ = _vocab(index)
        gin: dict[str, list[int]] = {}
        sizes = np.zeros(terms.size, dtype=np.int64)
        for i, t in enumerate(terms):
            grams = _py_trigrams(str(t))
            sizes[i] = len(grams)
            for g in grams:
                gin.setdefault(g, []).append(i)
        index["_vocab_gin"] = (
            {g: np.array(ix, dtype=np.int64) for g, ix in gin.items()},
            sizes,
        )
    return index["_vocab_gin"]


def suggest_spelling_local(
    index: dict, word: str, k: int = 5, min_sim: float = 0.3
) -> list[tuple]:
    """[(term, sim)] trigram-similar vocabulary terms, sim desc / term
    asc — identical contract to suggest.suggest_spelling (min_sim > 0, so
    the gram-candidate restriction is lossless)."""
    terms, _, _ = _vocab(index)
    gin, sizes = _vocab_gin(index)
    q_grams = _py_trigrams(word.lower())
    posts = [gin[g] for g in q_grams if g in gin]
    if not posts:
        return []
    flat = np.concatenate(posts)
    cand, inter = np.unique(flat, return_counts=True)
    union = sizes[cand] + len(q_grams) - inter
    sim = np.round(inter / union, 6)
    keep = sim >= float(min_sim)
    cand, sim = cand[keep], sim[keep]
    order = sorted(range(cand.size), key=lambda i: (-sim[i], terms[cand[i]]))
    return [(str(terms[cand[i]]), float(sim[i])) for i in order[: int(k)]]


def multi_match_topk_local(
    field_indexes: dict[str, dict],
    weights: dict[str, float],
    terms: list[str],
    k: int = 10,
) -> list[tuple]:
    """[(doc_id, score)] — rank-identical to multifield.multi_match_topk.
    Each field's posting blocks for the query terms are fetched once into
    that index's hot-shard cache (repeated terms across the query stream
    skip Spark); scoring runs the same field+term-keyed MaxScore kernel
    in-process."""
    import pandas as pd

    from .multifield import _SEP
    from .wand import (
        _collect_idfs,
        _local_blocks,
        _score_salt_group,
        _tomb_array,
    )

    key_idfs: dict[str, float] = {}
    key_weights: dict[str, float] = {}
    key_avgdls: dict[str, float] = {}
    parts = []
    first = None
    for name, idx in field_indexes.items():
        if first is None:
            first = idx
        idfs, avgdl = _collect_idfs(idx, terms)
        w = float(weights.get(name, 1.0))
        _local_blocks(idx, list(idfs), [])
        cache = idx["_local_post_cache"]
        for t, idf in idfs.items():
            key = name + _SEP + t
            key_idfs[key] = idf
            key_weights[key] = w
            key_avgdls[key] = float(avgdl)
            g = cache.get(t)
            if g is not None:
                parts.append(g.assign(term=key))
    if not parts:
        return []
    pdf = pd.concat(parts, ignore_index=True)
    res = _score_salt_group(
        pdf, key_idfs, 0.0, k, tombstones=_tomb_array(first),
        weights=key_weights, avgdls=key_avgdls,
    )
    res = res.sort_values(
        ["score", "doc_id"], ascending=[False, True], ignore_index=True
    ).head(k)
    return list(res.itertuples(index=False, name=None))


def _doc_rows(
    index: dict,
    corpus: DataFrame | None,
    doc_ids: list[int],
    cols: list[str],
    doc_store: str | None,
) -> dict[int, tuple]:
    """{doc_id: (cols...)} — the k-row doc-store point read.  Preferred
    path: driver-local pyarrow read of the sorted stored-fields store
    (query/docstore.py — no Spark job); fallback: a pruned Spark fetch
    from the corpus DataFrame (indexes built without write_doc_store)."""
    from .docstore import fetch_docs_local, resolve_doc_store

    store = resolve_doc_store(index, doc_store)
    if store is not None:
        rows = fetch_docs_local(
            store,
            doc_ids,
            cache=index.setdefault("_doc_cache", {}),
            ds_cache=index.setdefault("_doc_ds_cache", {}),
            cols=cols,
        )
        return {d: tuple(r[c] for c in cols) for d, r in rows.items()}
    if corpus is None:
        raise ValueError(
            "no doc_store on this index and no corpus DataFrame given"
        )
    # Corpus-fallback hot cache (r5, VERDICT r4 #8): a query node serving
    # a stream holds hot stored fields resident, exactly like the
    # postings hot-shard cache — without it every warm mlt/rescore/
    # highlight repaid the ~1 s Spark-job floor for a k-row point read.
    # Same partial-row semantics as fetch_docs_local: a hit needs every
    # wanted column; fetched columns merge into the cached row so
    # different column sets share one cache (and the pyarrow-store path
    # shares the same "_doc_cache" slot).
    cache = index.setdefault("_doc_cache", {})
    ids = sorted({int(d) for d in doc_ids})
    missing = [
        d for d in ids
        if d not in cache or not all(c in cache[d] for c in cols)
    ]
    if missing:
        for r in (
            corpus.filter(F.col("doc_id").isin(missing))
            .select("doc_id", *cols)
            .collect()
        ):
            row = cache.setdefault(int(r["doc_id"]), {})
            row.update({c: r[c] for c in cols})
        # Bound the hot cache (ADVICE r5, low): FIFO-evict oldest entries
        # past the cap so a long-lived handle cannot grow without limit.
        # Staleness is not a concern — an index handle is a snapshot view
        # by contract (as_index docstring: Iceberg-style read isolation),
        # and the corpus DataFrame's lineage is immutable.
        while len(cache) > DOC_CACHE_MAX_ENTRIES:
            cache.pop(next(iter(cache)))
    return {
        d: tuple(cache[d][c] for c in cols) for d in ids if d in cache
    }


def more_like_this_local(
    index: dict,
    corpus: DataFrame | None,
    doc_id: int,
    k: int = 10,
    max_query_terms: int = MAX_QUERY_TERMS,
    min_term_freq: int = 1,
    min_doc_freq: int = 2,
    doc_store: str | None = None,
) -> list[tuple]:
    """[(doc_id, score)] — rank-identical to mlt.more_like_this.  The
    source doc's text comes from the doc-store point read (_doc_rows);
    term selection runs against the cached vocab, retrieval against the
    hot-shard postings cache."""
    rows = _doc_rows(index, corpus, [int(doc_id)], ["text"], doc_store)
    if int(doc_id) not in rows:
        return []
    tf = Counter(py_tokenize(rows[int(doc_id)][0]))
    cand = sorted(t for t, c in tf.items() if c >= min_term_freq)
    if not cand:
        return []
    terms, dfs, _ = _vocab(index)
    pos = np.searchsorted(terms, np.array(cand, dtype=object))
    found = {
        t: int(dfs[p])
        for t, p in zip(cand, pos)
        if p < terms.size and terms[p] == t
    }
    sel = _interesting_terms(
        index, tf, cand, max_query_terms, min_doc_freq, dfs=found
    )
    if not sel:
        return []
    hits = wand_topk_local(index, sel, k=k + 1)
    return [h for h in hits if h[0] != int(doc_id)][:k]


def rescore_recency_local(
    index: dict,
    terms: list[str],
    k: int = 10,
    window_size: int = 100,
    origin: str = "2022-01-01 00:00:00",
    scale_sec: int = 86400,
    doc_store: str | None = None,
) -> list[tuple]:
    """[(doc_id, url, score, rescored)] — mlt.rescore_recency served
    locally: base ranking in-process, one doc-store point read for the
    window's (url, warc_ts) — pyarrow when the index carries a store,
    else a pruned doc_map Spark fetch."""
    window = wand_topk_local(index, terms, k=window_size)
    if not window:
        return []
    ids = [int(d) for d, _ in window]
    from .docstore import resolve_doc_store

    if resolve_doc_store(index, doc_store) is not None:
        attrs = _doc_rows(index, None, ids, ["url", "warc_ts"], doc_store)
    else:
        attrs = {
            r["doc_id"]: (r["url"], r["warc_ts"])
            for r in index["doc_map"]
            .filter(F.col("doc_id").isin(ids))
            .select("doc_id", "url", "warc_ts")
            .collect()
        }
    from datetime import datetime, timezone

    o = datetime.strptime(origin, "%Y-%m-%d %H:%M:%S").replace(
        tzinfo=timezone.utc
    )
    out = []
    for d, s in window:
        url, ts = attrs[int(d)]
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=timezone.utc)
        dist = (ts - o).total_seconds() / float(scale_sec)
        rescored = round(s * math.exp(math.log(0.5) * dist * dist), SCORE_DECIMALS)
        out.append((int(d), url, float(s), rescored))
    out.sort(key=lambda r: (-r[3], r[0]))
    return out[:k]


def search_highlight_local(
    index: dict,
    corpus: DataFrame | None,
    terms: list[str],
    k: int = 10,
    window: int = 30,
    length: int = 160,
    doc_store: str | None = None,
) -> list[tuple]:
    """[(doc_id, url, score, snippet)] — highlight.search_highlight
    served locally: WAND ranking in-process, one k-row doc-store point
    read (pyarrow store or pruned corpus Spark fetch), snippets built
    with the same contract (first-anchor window, case-insensitive <em>
    wrap, original casing kept)."""
    uniq = sorted({t.lower() for t in terms})
    top = wand_topk_local(index, terms, k=k)
    if not top:
        return []
    ids = [int(d) for d, _ in top]
    texts = _doc_rows(index, corpus, ids, ["url", "text"], doc_store)
    rx = re.compile("(?i)(" + "|".join(re.escape(t) for t in uniq) + ")")
    out = []
    for d, s in top:
        url, text = texts[int(d)]
        low = text.lower()
        firsts = [low.find(t) + 1 for t in uniq if low.find(t) >= 0]
        anchor = min(firsts) if firsts else 1
        start = max(1, anchor - int(window))
        snippet = rx.sub(r"<em>\1</em>", text[start - 1 : start - 1 + int(length)])
        out.append((int(d), url, float(s), snippet))
    return out


def _levenshtein(a: str, b: str) -> int:
    """Plain edit distance (matches Spark's levenshtein / DuckDB's
    levenshtein) — two-row DP, vocab terms are short."""
    if a == b:
        return 0
    if not a:
        return len(b)
    if not b:
        return len(a)
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def expand_fuzzy_local(
    index: dict,
    word: str,
    fuzziness: int = 2,
    prefix_length: int = 1,
    max_expansions: int = DEFAULT_MAX_EXPANSIONS,
) -> list[str]:
    """expand.expand_fuzzy against the cached vocab: prefix slice via two
    binary searches, Levenshtein on the survivors, (dist, term) order."""
    terms, _, _ = _vocab(index)
    w = word.lower()
    cand = (
        terms[_prefix_slice(terms, w[: int(prefix_length)])]
        if prefix_length > 0
        else terms
    )
    scored = []
    for t in cand:
        d = _levenshtein(str(t), w)
        if d <= int(fuzziness):
            scored.append((d, str(t)))
    scored.sort()
    return [t for _, t in scored[: int(max_expansions)]]


def expand_regexp_local(
    index: dict, pattern: str, max_expansions: int = DEFAULT_MAX_EXPANSIONS
) -> list[str]:
    """expand.expand_regexp against the cached vocab (anchored full
    match; literal prefix prunes the slice)."""
    terms, _, _ = _vocab(index)
    lit_prefix = re.match(r"^[A-Za-z0-9]*", pattern).group(0)
    cand = (
        terms[_prefix_slice(terms, lit_prefix.lower())]
        if lit_prefix
        else terms
    )
    rx = re.compile("(?:" + pattern + ")")
    out = []
    for t in cand:
        if rx.fullmatch(str(t)):
            out.append(str(t))
            if len(out) >= int(max_expansions):
                break
    return out


def fuzzy_term_topk_local(
    index: dict,
    word: str,
    k: int = 10,
    fuzziness: int = 2,
    prefix_length: int = 1,
    max_expansions: int = DEFAULT_MAX_EXPANSIONS,
    doc_filter: str | None = None,
) -> list[tuple]:
    """[(doc_id, score)] — rank-identical to expand.fuzzy_term_topk."""
    terms = expand_fuzzy_local(
        index, word, fuzziness, prefix_length, max_expansions
    )
    if not terms:
        return []
    return wand_topk_local(index, terms, k=k, doc_filter=doc_filter)


def regexp_topk_local(
    index: dict,
    pattern: str,
    k: int = 10,
    max_expansions: int = DEFAULT_MAX_EXPANSIONS,
    doc_filter: str | None = None,
) -> list[tuple]:
    """[(doc_id, score)] — rank-identical to expand.regexp_topk."""
    terms = expand_regexp_local(index, pattern, max_expansions)
    if not terms:
        return []
    return wand_topk_local(index, terms, k=k, doc_filter=doc_filter)


def dis_max_topk_local(
    field_indexes: dict[str, dict],
    boosts: dict[str, float],
    terms: list[str],
    k: int = 10,
) -> list[tuple]:
    """[(doc_id, score)] — rank-identical to multifield.dis_max_topk
    (tie_breaker=0): per-field wand_topk_local (hot-shard caches), max
    per doc over the <= |fields|*k candidate union."""
    from .bm25 import SCORE_DECIMALS as _SD

    best: dict[int, float] = {}
    for name, idx in field_indexes.items():
        w = float(boosts.get(name, 1.0))
        for d, s in wand_topk_local(idx, terms, k=k):
            fs = round(s * w, _SD)
            if fs > best.get(d, float("-inf")):
                best[d] = fs
    out = sorted(best.items(), key=lambda x: (-x[1], x[0]))[: int(k)]
    return [(int(d), float(s)) for d, s in out]


def pinned_topk_local(
    index: dict,
    terms: list[str],
    pinned_ids: list[int],
    k: int = 10,
    corpus: DataFrame | None = None,
    doc_store: str | None = None,
    exclude_ids: list[int] | None = None,
) -> list[tuple]:
    """[(rank, doc_id, pinned, score|None)] — rank-identical to
    boosting.pinned_topk (minus the url column; serve-path hits carry
    ids, stored fields come from the doc store on demand).

    Organic retrieval over-fetches k + |pins| + |excludes| from the
    hot-shard kernel and drops the pinned/excluded ids afterwards —
    exact (removing p docs from a ranking needs at most k + p of its
    head) and avoids a per-query admitted-id Spark job.  Pin existence
    is checked against the doc-store point read (no Spark job) or the
    corpus fallback.  `exclude_ids` is the query-rules exclude action
    (exclusion wins over pinning)."""
    excl = {int(e) for e in (exclude_ids or [])}
    pins = [int(p) for p in pinned_ids if int(p) not in excl]
    exists = _doc_rows(index, corpus, pins, ["url"], doc_store) if pins else {}
    pins = [p for p in pins if p in exists]
    organic = wand_topk_local(index, terms, k=k + len(pins) + len(excl))
    dropped = set(pins) | excl
    organic = [(d, s) for d, s in organic if d not in dropped][
        : max(0, k - len(pins))
    ]
    out = [(i + 1, p, True, None) for i, p in enumerate(pins[:k])]
    base = len(out)
    out += [
        (base + i + 1, int(d), False, float(s))
        for i, (d, s) in enumerate(organic)
    ]
    return out[:k]


def rank_feature_topk_local(
    index: dict,
    terms: list[str],
    pivot: float = 40.0,
    boost: float = 2.0,
    k: int = 10,
    func: str = "saturation",
    exponent: float = 2.0,
) -> list[tuple]:
    """[(doc_id, score)] — rank-identical to boosting.rank_feature_topk.
    Full accumulation over the hot-shard posting cache; the doc_len
    feature is decoded FROM the postings themselves (dl rides in every
    block), so no doc-values fetch is needed at all."""
    from .boosting import RANK_FEATURE_FUNCS, _rank_feature_np
    from .wand import (
        _collect_idfs,
        _decode,
        _live_mask,
        _local_blocks,
        _select,
        _tomb_array,
    )

    if func not in RANK_FEATURE_FUNCS:
        raise ValueError(f"rank_feature func must be one of {RANK_FEATURE_FUNCS}")
    idfs, avgdl = _collect_idfs(index, sorted(set(terms)))
    if not idfs:
        return []
    pdf = _local_blocks(index, sorted(idfs), sorted(idfs))
    if pdf is None:
        return []
    tomb = _tomb_array(index)
    all_ids, all_w, all_dl = [], [], []
    for t, g in pdf.groupby("term", sort=False):
        ids, tfs, dls = _decode(g.sort_values("block_id"))
        live = _live_mask(ids, tomb, None)
        if live is not None:
            ids, tfs, dls = ids[live], tfs[live], dls[live]
        all_ids.append(ids)
        all_w.append(bm25_weight(tfs, dls, avgdl, idfs[t]))
        all_dl.append(dls)
    ids = np.concatenate(all_ids)
    if ids.size == 0:
        return []
    w = np.concatenate(all_w)
    dl = np.concatenate(all_dl)
    order = np.argsort(ids, kind="stable")
    ids, w, dl = ids[order], w[order], dl[order]
    uniq, starts = np.unique(ids, return_index=True)
    sums = np.add.reduceat(w, starts)
    feat = _rank_feature_np(dl[starts], func, float(pivot), float(exponent))
    ids, scores = _select(uniq, sums + float(boost) * feat, int(k))
    return list(zip(ids.tolist(), scores.tolist()))


def phrase_suggest_local(
    index: dict,
    bigram_store: str,
    terms: list[str],
    max_edits: int = 2,
    per_term: int = 4,
    k: int = 5,
) -> list[tuple]:
    """[(suggestion, score)] — rank-identical to suggest.phrase_suggest.
    Candidates from the cached sorted vocabulary (one vocab scan with the
    same python Levenshtein the fuzzy expansion uses), bigram counts from
    the sorted bigram store via row-group-pruned pyarrow point reads
    (<= per_term^2 keys) — zero Spark jobs once the vocab cache is warm."""
    import itertools

    from .suggest import PHRASE_EDIT_ALPHA, fetch_bigrams_local

    vterms, _, cf = _vocab(index)
    if "_vocab_totals" not in index:
        index["_vocab_totals"] = (float(len(vterms)), float(cf.sum()))
    V, T = index["_vocab_totals"]
    cf_of = index.setdefault("_vocab_cf_map", None)
    if cf_of is None:
        cf_of = dict(zip(vterms.tolist(), (int(c) for c in cf)))
        index["_vocab_cf_map"] = cf_of
    cands: list[list[tuple[str, int, int]]] = []
    for t in terms:
        scored = []
        for vt in vterms:
            d = _levenshtein(vt, t)
            if d <= int(max_edits):
                scored.append((d, -cf_of[vt], vt))
        scored.sort()
        cands.append(
            [(vt, -negcf, d) for d, negcf, vt in scored[: int(per_term)]]
        )
        if not cands[-1]:
            return []
    need = {
        f"{a[0]} {b[0]}"
        for i in range(len(terms) - 1)
        for a in cands[i]
        for b in cands[i + 1]
    }
    counts = fetch_bigrams_local(
        bigram_store,
        sorted(need),
        cache=index.setdefault("_bigram_cache", {}),
        ds_cache=index.setdefault("_doc_ds_cache", {}),
    )
    ln_alpha = math.log(PHRASE_EDIT_ALPHA)
    out = []
    for combo in itertools.product(*cands):
        w0, cf0, d0 = combo[0]
        score = math.log((cf0 + 1.0) / (T + V))
        for _, _, d in combo:
            score += d * ln_alpha
        for i in range(len(combo) - 1):
            wi, cfi, _ = combo[i]
            bg = counts.get(f"{wi} {combo[i + 1][0]}", 0)
            score += math.log((bg + 1.0) / (cfi + V))
        out.append((" ".join(w[0] for w in combo), round(score, 5)))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out[: int(k)]


def match_bool_prefix_topk_local(
    index: dict,
    terms: list[str],
    k: int = 10,
    max_expansions: int = DEFAULT_MAX_EXPANSIONS,
) -> list[tuple]:
    """[(doc_id, score)] — rank-identical to expand.match_bool_prefix_topk
    (search-as-you-type): last term expanded against the cached sorted
    vocabulary (two binary searches), the union served by
    wand_topk_local's hot-shard cache."""
    if not terms:
        return []
    *full, last = terms
    exp = expand_prefix_local(index, last, max_expansions)
    all_terms = sorted(set(full) | set(exp))
    if not all_terms:
        return []
    return wand_topk_local(index, all_terms, k=k)


def ltr_rescore_local(
    index: dict,
    terms: list[str],
    k: int = 10,
    window_size: int = 100,
    weights: dict[str, float] | None = None,
    doc_store: str | None = None,
) -> list[tuple]:
    """[(doc_id, url, score, ltr)] — mlt.ltr_rescore served locally:
    base ranking in-process, one window-row doc-store point read for
    (url, warc_ts, text) with doc_len recomputed by the same tokenizer
    (byte-identity contract), else a pruned doc_map fetch that already
    carries doc_len."""
    from .docstore import resolve_doc_store
    from .mlt import LTR_WEIGHTS

    w = weights or LTR_WEIGHTS
    window = wand_topk_local(index, terms, k=window_size)
    if not window:
        return []
    ids = [int(d) for d, _ in window]
    if resolve_doc_store(index, doc_store) is not None:
        rows = _doc_rows(index, None, ids, ["url", "warc_ts", "text"], doc_store)
        attrs = {
            d: (u, ts, len(py_tokenize(t or "")))
            for d, (u, ts, t) in rows.items()
        }
    else:
        attrs = {
            r["doc_id"]: (r["url"], r["warc_ts"], int(r["doc_len"]))
            for r in index["doc_map"]
            .filter(F.col("doc_id").isin(ids))
            .select("doc_id", "url", "warc_ts", "doc_len")
            .collect()
        }
    from datetime import timezone

    out = []
    for d, s in window:
        url, ts, dl = attrs[int(d)]
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=timezone.utc)
        age_hours = (ts.timestamp() - 1640995200) / 3600.0
        ltr = round(
            float(w["bm25"]) * s
            + float(w["log_dl"]) * math.log1p(float(dl))
            + float(w["age_hours"]) * age_hours,
            SCORE_DECIMALS,
        )
        out.append((int(d), url, float(s), ltr))
    out.sort(key=lambda r: (-r[3], r[0]))
    return out[:k]


def synonym_match_topk_local(
    index: dict, groups: list[list[str]], k: int = 10
) -> list[tuple]:
    """[(doc_id, score)] — rank-identical to synonyms.synonym_match_topk,
    served from the hot-shard postings cache (SynonymQuery blending:
    group tf summed before saturation, idf from the max-df member)."""
    from .synonyms import _group_idfs, _group_scores
    from .wand import _collect_idfs, _local_blocks, _select, _tomb_array

    norm_groups = [sorted({t.lower() for t in g}) for g in groups if g]
    members = sorted({t for g in norm_groups for t in g})
    if not members:
        return []
    idfs, avgdl = _collect_idfs(index, members)
    group_idfs = _group_idfs(idfs, norm_groups)
    if not group_idfs:
        return []
    pdf = _local_blocks(index, members, [t for t in members if t in idfs])
    if pdf is None:
        return []
    by_term = {
        t: g.sort_values("block_id") for t, g in pdf.groupby("term", sort=False)
    }
    ids, scores = _select(
        *_group_scores(by_term, group_idfs, avgdl), int(k),
        tombstones=_tomb_array(index),
    )
    return list(zip(ids.tolist(), scores.tolist()))


def highlight_fvh_local(
    index: dict,
    terms: list[str],
    k: int = 10,
    frag_size: int = 20,
    num_frags: int = 2,
    corpus: DataFrame | None = None,
    doc_store: str | None = None,
) -> list[tuple]:
    """[(doc_id, url, score, frag_rank, frag_score, fragment)] — value-
    identical to highlight.highlight_fvh(index=...): base ranking
    in-process (wand_topk_local), ONE k-row doc-store point read for
    (url, text), fragment scoring in numpy with the cached idfs."""
    from .wand import _collect_idfs

    uniq_terms = sorted({t.lower() for t in terms})
    top = wand_topk_local(index, terms, k=k)
    if not top:
        return []
    idfs, _ = _collect_idfs(index, uniq_terms)
    rows = _doc_rows(
        index, corpus, [int(d) for d, _ in top], ["url", "text"], doc_store
    )
    qset = set(uniq_terms)
    out = []
    for d, s in top:
        url, text = rows[int(d)]
        toks = py_tokenize(text or "")
        buckets: dict[int, float] = {}
        for p, t in enumerate(toks):
            if t in qset:
                b = p // int(frag_size)
                buckets[b] = buckets.get(b, 0.0) + idfs.get(t, 0.0)
        frs = sorted(
            ((round(v, SCORE_DECIMALS), b) for b, v in buckets.items()),
            key=lambda x: (-x[0], x[1]),
        )[: int(num_frags)]
        for rank, (fsc, b) in enumerate(frs, start=1):
            window = toks[b * int(frag_size) : (b + 1) * int(frag_size)]
            frag = " ".join(
                f"<em>{t}</em>" if t in qset else t for t in window
            )
            out.append((int(d), url, float(s), rank, float(fsc), frag))
    return out
