"""Independent answers for the benchmark's checks.

The BM25 oracle is built from the generator's token ids (gen.py), never from
the engine's tokenizer or index.  Scoring is Lucene/ES BM25 as the engine's
``query/bm25.py`` docstring defines it:

    idf(t)     = ln(1 + (N - df + 0.5) / (df + 0.5))
    w(t, d)    = idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * |d| / avgdl))
    score(q,d) = sum over the DISTINCT query terms d contains

k1 = 1.2, b = 0.75; scores rounded to 5 decimals before ranking, ties broken
by doc_id ascending; N and avgdl over every live doc (empty docs included).
A doc filter restricts which docs are ranked, never N, avgdl or df.

Deleted (tombstoned) docs follow Lucene until a merge: they still count in
df, but not in N or avgdl, and are never ranked.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from gen import WORDS

K1, B = 1.2, 0.75
DECIMALS = 5
WORD_ID = {w: i for i, w in enumerate(WORDS)}


class BM25Oracle:
    """Term-major postings over all physically present docs.

    doc_ids/offsets/toks as in gen.Corpus (any doc order); `live` marks the
    docs that count in N/avgdl and may be ranked (default: all)."""

    def __init__(self, doc_ids, offsets, toks, live=None):
        self.doc_ids = np.asarray(doc_ids, dtype=np.int64)
        n = self.doc_ids.size
        lens = np.diff(offsets)
        self.live = np.ones(n, dtype=bool) if live is None else np.asarray(live)
        self.dl = lens.astype(np.float64)
        self.n = int(self.live.sum())
        self.total_tokens = int(lens[self.live].sum())
        self.avgdl = self.total_tokens / self.n if self.n else 1.0
        n_terms = len(WORDS)
        doc_of_tok = np.repeat(np.arange(n, dtype=np.int64), lens)
        key = doc_of_tok * n_terms + np.asarray(toks, dtype=np.int64)
        pairs, tf = np.unique(key, return_counts=True)
        docs, terms = np.divmod(pairs, n_terms)
        order = np.argsort(terms, kind="stable")
        self.p_doc = docs[order]
        self.p_tf = tf[order].astype(np.float64)
        self.df = np.bincount(terms, minlength=n_terms)
        self.start = np.concatenate(([0], np.cumsum(self.df)))
        self.n_pairs = int(pairs.size)

    def idf(self, t: int) -> float:
        df = self.df[t]
        return float(np.log(1.0 + (self.n - df + 0.5) / (df + 0.5)))

    def scores(self, terms: list[str]) -> tuple[np.ndarray, np.ndarray]:
        """Dense (score, matched) arrays over doc positions."""
        acc = np.zeros(self.doc_ids.size)
        hit = np.zeros(self.doc_ids.size, dtype=bool)
        for t in sorted({WORD_ID[x] for x in terms if x in WORD_ID}):
            a, b = self.start[t], self.start[t + 1]
            if a == b:
                continue
            d, tf = self.p_doc[a:b], self.p_tf[a:b]
            norm = K1 * (1.0 - B + B * self.dl[d] / self.avgdl)
            acc[d] += self.idf(t) * tf * (K1 + 1.0) / (tf + norm)
            hit[d] = True
        return acc, hit

    def topk(self, terms: list[str], k: int = 10, allowed=None) -> list[tuple]:
        """[(doc_id, score)] top-k; `allowed` is a bool mask over doc positions."""
        acc, hit = self.scores(terms)
        keep = hit & self.live
        if allowed is not None:
            keep &= allowed
        idx = np.flatnonzero(keep)
        sc = np.round(acc[idx], DECIMALS)
        ids = self.doc_ids[idx]
        top = np.lexsort((ids, -sc))[:k]
        return [(int(ids[i]), float(sc[i])) for i in top]


def same_topk(got, want) -> bool:
    """Rank-identity with scores compared at the rounding precision."""
    if len(got) != len(want):
        return False
    for (gd, gs), (wd, ws) in zip(got, want):
        if int(gd) != wd or round(float(gs), DECIMALS) != ws:
            return False
    return True


# --- search pipeline (query/search.py) re-implemented in pandas -----------

SPAM_PATTERNS = [r"[0-9]{16}", r"donate|donation", r"[$€£]{3,}"]


def search_oracle(rows: pd.DataFrame, q, langs, offset: int, limit: int):
    """filter -> sort -> offset/limit over the generated rows.
    Returns (page doc_ids, total count)."""
    text = rows["text"]
    low = text.str.lower()
    keep = ~(
        text.str.contains(SPAM_PATTERNS[0], regex=True)
        | low.str.contains(SPAM_PATTERNS[1], regex=True)
        | text.str.contains(SPAM_PATTERNS[2], regex=True)
    )
    if q is not None:
        keep &= low.str.contains(q.lower(), regex=False)
    if langs:
        keep &= rows["lang"].isin(langs)
    hit = rows.loc[keep, ["doc_id", "warc_ts"]].copy()
    ids = hit["doc_id"].to_numpy()
    score = np.where(ids % 11 == 0, np.nan, ((ids * 37) % 101).astype(float))
    hit["score"] = score
    hit["null"] = np.isnan(score)
    hit = hit.sort_values(
        ["null", "score", "warc_ts", "doc_id"],
        ascending=[True, False, False, True],
        kind="mergesort",
    )
    page = hit["doc_id"].to_numpy()[offset : offset + limit]
    return [int(x) for x in page], int(len(hit))
