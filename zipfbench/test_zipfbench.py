"""Tests of the benchmark's own code: the BM25 oracle against a 20-doc corpus
whose scores are computed by hand (FIXTURES.md section 5), and the
generator's determinism.  Run: python -m pytest zipfbench -q
"""

import math

import numpy as np

import gen
from oracle import WORD_ID, BM25Oracle, same_topk

# 20 docs; every doc but two has 4 tokens, d18 has 8 and d19 none, so
# N = 20, total = 80 and avgdl = 4: a 4-token doc's length norm is exactly
# k1 = 1.2 and d18's is 1.2 * (0.25 + 0.75 * 2) = 2.1.
DOCS = (
    [
        "w1 w2 w3 w4",
        "w1 w1 w2 w5",
        "w1 w1 w1 w6",
        "w1 w1 w1 w1",
    ]
    + ["w7 w8 w9 w10"] * 14
    + ["w2 w2 w7 w8 w9 w10 w11 w12", ""]
)


def _fixture(live=None) -> BM25Oracle:
    toks = [[WORD_ID[w] for w in d.split()] for d in DOCS]
    lens = [len(t) for t in toks]
    return BM25Oracle(
        np.arange(20),
        np.concatenate(([0], np.cumsum(lens))),
        np.array([t for d in toks for t in d], dtype=np.int32),
        live,
    )


IDF_W1 = math.log(1 + (20 - 4 + 0.5) / (4 + 0.5))  # df 4
IDF_W2 = math.log(1 + (20 - 3 + 0.5) / (3 + 0.5))  # df 3
IDF_W7 = math.log(1 + (20 - 15 + 0.5) / (15 + 0.5))  # df 15


def _w(tf, norm, idf):
    return idf * tf * 2.2 / (tf + norm)


def test_single_term_scores_and_order():
    want = [
        (3, round(_w(4, 1.2, IDF_W1), 5)),
        (2, round(_w(3, 1.2, IDF_W1), 5)),
        (1, round(_w(2, 1.2, IDF_W1), 5)),
        (0, round(_w(1, 1.2, IDF_W1), 5)),
    ]
    assert _fixture().topk(["w1"]) == want
    assert want[0] == (3, 2.60691)


def test_two_terms_and_length_norm():
    orc = _fixture()
    want = [
        (1, round(_w(2, 1.2, IDF_W1) + _w(1, 1.2, IDF_W2), 5)),
        (0, round(_w(1, 1.2, IDF_W1) + _w(1, 1.2, IDF_W2), 5)),
        (3, round(_w(4, 1.2, IDF_W1), 5)),
        (2, round(_w(3, 1.2, IDF_W1), 5)),
        (18, round(_w(2, 2.1, IDF_W2), 5)),
    ]
    assert orc.topk(["w2", "w1"]) == want
    # repeated query terms count once
    assert orc.topk(["w1", "w2", "w1"]) == want
    assert same_topk([(d, s + 1e-9) for d, s in want], want)


def test_ties_break_by_doc_id_and_k():
    got = _fixture().topk(["w7"], k=10)
    assert [d for d, _ in got] == list(range(4, 14))
    assert {s for _, s in got} == {round(_w(1, 1.2, IDF_W7), 5)}


def test_filter_keeps_global_stats():
    allowed = np.ones(20, dtype=bool)
    allowed[3] = False
    got = _fixture().topk(["w1"], allowed=allowed)
    assert got == [
        (2, round(_w(3, 1.2, IDF_W1), 5)),
        (1, round(_w(2, 1.2, IDF_W1), 5)),
        (0, round(_w(1, 1.2, IDF_W1), 5)),
    ]


def test_deleted_doc_counts_in_df_not_in_n():
    live = np.ones(20, dtype=bool)
    live[3] = False
    orc = _fixture(live)
    # N = 19, avgdl = 76 / 19 = 4, df(w1) still 4
    idf = math.log(1 + (19 - 4 + 0.5) / (4 + 0.5))
    assert (orc.n, orc.avgdl) == (19, 4.0)
    assert orc.topk(["w1"])[0] == (2, round(_w(3, 1.2, idf), 5))


def test_generator_is_deterministic():
    a, b = gen.make_corpus(5, 3000), gen.make_corpus(5, 3000)
    assert a.frame().equals(b.frame())
    assert np.array_equal(a.toks, b.toks) and np.array_equal(a.offsets, b.offsets)
    assert [c.tolist() for c in a.clusters] == [c.tolist() for c in b.clusters]
    assert gen.make_queries(5, 100) == gen.make_queries(5, 100)
    assert not gen.make_corpus(6, 3000).frame().equals(a.frame())


def test_generator_make_up():
    c = gen.make_corpus(1, 5000)
    lens = c.lengths()
    assert 0.005 < (lens == 0).mean() < 0.02
    assert lens.max() <= gen.MAX_WORDS + 1
    assert 0.75 < (c.lang == "en").mean() < 0.85
    # every planted cluster: same window, near-copies of its root
    for cl in c.clusters:
        assert cl[0] // 1000 == cl[-1] // 1000
        root = c.toks[c.offsets[cl[0]] : c.offsets[cl[0] + 1]]
        for d in cl[1:]:
            copy = c.toks[c.offsets[d] : c.offsets[d + 1]]
            assert np.array_equal(copy[:-1], root[:-1])
    qs = gen.make_queries(1, 2000)
    assert all(1 <= len(q["terms"]) <= 4 for q in qs)
    zero = [q for q in qs if q["cls"] == "zero"]
    assert 0.03 < len(zero) / len(qs) < 0.07
    assert all(t not in WORD_ID for q in zero for t in q["terms"])


def test_rendered_text_tokenizes_to_the_generator_tokens():
    from telegram2elastic_spark.functions.tokenizer import py_tokenize

    c = gen.make_corpus(3, 500)
    for i in range(c.n):
        want = [str(w) for w in gen.WORDS[c.toks[c.offsets[i] : c.offsets[i + 1]]]]
        assert py_tokenize(c.text[i]) == want
