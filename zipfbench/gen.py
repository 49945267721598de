"""Seeded Zipf corpus and query generator (numpy only).

Everything the benchmark feeds the engine is made here from one seed; the
engine receives only the rows (a parquet snapshot, or DataFrames of rows),
never the token lists.  The token lists stay on this side and feed the
independent BM25 oracle (oracle.py), so a tokenizer fault in the engine
shows up as a mismatch instead of being copied into the check.

Make-up (FIXTURES.md sections 1 and 2):

* vocabulary: ``w0`` .. ``w4999``, drawn Zipf(s=1.1) by rank, plus two spam
  tokens (``donate`` and a 16-digit card number) that about 2% of docs carry;
* 5-300 words per doc (uniform), about 1% empty docs, ``lang`` en/uk/ru at
  80/15/5;
* words are joined by mixed separators (space, comma, full stop, dash) and
  the first word is capitalised, so the engine's tokenizer has to split and
  lower-case to get the generator's tokens back;
* near-duplicate clusters: ``DUP_RATE`` of docs are near-copies of a root doc
  in the same ``dup_window``-aligned window of doc ids (the root's tokens with
  the last word replaced), so every cluster lies whole inside any prefix slice
  that ends on a window boundary;
* queries: 1-4 terms; the query's class is head (ranks < 50) 25%, mid
  (50..999) 50%, tail (1000..4999) 20% or zero-hit (terms outside the
  vocabulary) 5%; its first term is drawn from that class and the others
  from a 1:2:1 head/mid/tail mix; 30% carry a ``lang`` filter (en:uk 2:1);
  one query in 20 repeats a term.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

VOCAB = 5000
ZIPF_S = 1.1
MIN_WORDS, MAX_WORDS = 5, 300
EMPTY_RATE = 0.01
SPAM_RATE = 0.02
DUP_RATE = 0.02
DUP_CLUSTER = (2, 5)  # members per cluster, root included
LANGS = np.array(["en", "uk", "ru"])
LANG_P = [0.80, 0.15, 0.05]
SPAM_TOKENS = ["donate", "4111111111111111"]
SEPARATORS = np.array([" ", " ", " ", ", ", ". ", " - "])

HEAD_END, MID_END = 50, 1000
QUERY_CLASS_P = {"head": 0.25, "mid": 0.50, "tail": 0.20, "zero": 0.05}
REPEAT_EVERY = 20

BASE_EPOCH = 1640995200  # 2022-01-01T00:00:00Z
TS_STRIDE_SEC = 37

#: term ids >= VOCAB name the spam tokens
WORDS = np.array([f"w{i}" for i in range(VOCAB)] + SPAM_TOKENS, dtype=object)


@dataclass
class Corpus:
    """Generated docs: rows for the engine, token ids for the oracle."""

    doc_ids: np.ndarray  # int64, ascending
    offsets: np.ndarray  # int64, len n+1: doc i's tokens are toks[off[i]:off[i+1]]
    toks: np.ndarray  # int32 term ids into WORDS
    lang: np.ndarray  # object
    text: np.ndarray  # object
    clusters: list  # list of int64 arrays of doc ids (planted near-dups)

    @property
    def n(self) -> int:
        return int(self.doc_ids.size)

    def lengths(self) -> np.ndarray:
        return np.diff(self.offsets)

    def frame(self, lo: int = 0, hi: int | None = None) -> pd.DataFrame:
        """The input_hint corpus rows (doc_id, url, warc_ts, text, lang)
        for docs lo..hi-1 (positions, not ids)."""
        ids = self.doc_ids[lo:hi]
        return pd.DataFrame(
            {
                "doc_id": ids,
                "url": [f"https://site{i % 1000}.example/page/{i}" for i in ids],
                "warc_ts": pd.to_datetime(
                    BASE_EPOCH + ids * TS_STRIDE_SEC, unit="s", utc=True
                ).astype("datetime64[us, UTC]"),
                "text": self.text[lo:hi],
                "lang": self.lang[lo:hi],
            }
        )


def _zipf_cdf(n: int, s: float) -> np.ndarray:
    w = np.arange(1, n + 1, dtype=np.float64) ** -s
    return np.cumsum(w / w.sum())


def _render(rng: np.random.Generator, toks: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """Token ids -> text with mixed separators and a capitalised first word."""
    seps = SEPARATORS[rng.integers(0, SEPARATORS.size, toks.size)]
    starts, ends = offsets[:-1], offsets[1:]
    nonempty = ends > starts
    seps[ends[nonempty] - 1] = ""
    pieces = WORDS[toks] + seps
    pieces[starts[nonempty]] = [p.capitalize() for p in pieces[starts[nonempty]]]
    return np.array(
        ["".join(pieces[a:b]) for a, b in zip(starts, ends)], dtype=object
    )


def make_corpus(
    seed: int, n_docs: int, id_base: int = 0, dup_window: int = 1000
) -> Corpus:
    """n_docs docs with ids id_base .. id_base+n_docs-1."""
    rng = np.random.default_rng(seed)
    lens = rng.integers(MIN_WORDS, MAX_WORDS + 1, n_docs)
    lens[rng.random(n_docs) < EMPTY_RATE] = 0
    spam = (rng.random(n_docs) < SPAM_RATE) & (lens > 0)
    lens = lens + spam  # spam docs carry one extra spam token at the end
    offsets = np.concatenate(([0], np.cumsum(lens))).astype(np.int64)
    cdf = _zipf_cdf(VOCAB, ZIPF_S)
    toks = np.searchsorted(cdf, rng.random(int(offsets[-1])), side="right")
    toks = np.minimum(toks, VOCAB - 1).astype(np.int32)
    spam_at = offsets[1:][spam] - 1
    toks[spam_at] = VOCAB + rng.integers(0, len(SPAM_TOKENS), spam_at.size)

    # plant near-duplicate clusters inside dup_window-aligned windows
    clusters = []
    tok_list = [toks[offsets[i] : offsets[i + 1]] for i in range(n_docs)]
    used = np.zeros(n_docs, dtype=bool)
    n_dup_docs = int(DUP_RATE * n_docs)
    planted = 0
    while planted < n_dup_docs:
        m = int(rng.integers(DUP_CLUSTER[0], DUP_CLUSTER[1] + 1))
        w0 = int(rng.integers(0, max(1, n_docs // dup_window))) * dup_window
        w1 = min(n_docs, w0 + dup_window)
        members = rng.choice(np.arange(w0, w1), size=m, replace=False)
        members.sort()
        if used[members].any() or lens[members[0]] < 30:
            continue
        used[members] = True
        root = tok_list[members[0]]
        for j in members[1:]:
            copy = root.copy()
            copy[-1] = rng.integers(0, VOCAB)
            tok_list[j] = copy
        clusters.append(members.astype(np.int64) + id_base)
        planted += m - 1
    lens = np.array([t.size for t in tok_list], dtype=np.int64)
    offsets = np.concatenate(([0], np.cumsum(lens))).astype(np.int64)
    toks = np.concatenate(tok_list).astype(np.int32) if lens.sum() else toks[:0]

    lang = LANGS[rng.choice(3, n_docs, p=LANG_P)].astype(object)
    text = _render(rng, toks, offsets)
    return Corpus(
        doc_ids=np.arange(id_base, id_base + n_docs, dtype=np.int64),
        offsets=offsets,
        toks=toks,
        lang=lang,
        text=text,
        clusters=clusters,
    )


class _Stream:
    """Draws from `values` in shuffled cycles: every value once per cycle.

    Stratified instead of independent draws, so that two seeds get query
    sets of nearly the same cost: a Zipf head term's posting list is up to
    ~200x longer than a mid one's, and independent draws let the head share
    of a few hundred queries swing the set's cost by 10-25%."""

    def __init__(self, rng: np.random.Generator, values):
        self.rng, self.values, self.buf = rng, np.asarray(values), []

    def next(self):
        if not self.buf:
            self.buf = list(self.rng.permutation(self.values))
        return self.buf.pop()


def make_queries(seed: int, n: int) -> list[dict]:
    """n queries: {'qid', 'terms', 'cls', 'lang'} (lang None = unfiltered).

    Class, term count, extra-term class, term rank and filter are each
    drawn from a stratified stream (_Stream); terms are drawn with
    replacement across queries.  Every REPEAT_EVERY-th query of 2+ terms
    repeats its first term, so repeated-term queries occur at a fixed rate.
    """
    rng = np.random.default_rng([seed, 7])
    cls_stream = _Stream(
        rng, [c for c, p in QUERY_CLASS_P.items() for _ in range(round(p * 20))]
    )
    k_stream = _Stream(rng, [1, 2, 3, 4])
    mix_stream = _Stream(rng, ["head", "mid", "mid", "tail"])
    ranks = {
        "head": _Stream(rng, np.arange(0, HEAD_END)),
        "mid": _Stream(rng, np.arange(HEAD_END, MID_END)),
        "tail": _Stream(rng, np.arange(MID_END, VOCAB)),
    }
    lang_stream = _Stream(rng, [None] * 7 + ["en", "en", "uk"])
    out = []
    for qid in range(n):
        cls = cls_stream.next()
        k = int(k_stream.next())
        if cls == "zero":
            terms = [f"zz{rng.integers(0, 10**6)}" for _ in range(k)]
        else:
            terms = [f"w{ranks[cls].next()}"]
            terms += [f"w{ranks[mix_stream.next()].next()}" for _ in range(k - 1)]
            if k > 1 and qid % REPEAT_EVERY == REPEAT_EVERY - 1:
                terms[-1] = terms[0]
        out.append({"qid": qid, "terms": terms, "cls": cls, "lang": lang_stream.next()})
    return out


def has_repeat(terms: list[str]) -> bool:
    return len(set(terms)) < len(terms)
