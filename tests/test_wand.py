"""WAND/compressed-index path must be rank-identical to the relational BM25
baseline (and hence to the DuckDB oracle, tested in test_bm25)."""

import pytest

from telegram2elastic_spark.corpus import load_corpus
from telegram2elastic_spark.index.build import build_index
from telegram2elastic_spark.query.bm25 import bm25_topk
from telegram2elastic_spark.query.wand import wand_topk


QUERIES = [
    ["spark", "merge"],
    ["the"],                       # Zipf head / heavy hitter
    ["vector", "window", "batch"],
    ["zzzznotaterm"],              # zero-hit
    ["the", "zzzznotaterm"],
    ["dup"],                       # rare
    ["the", "a", "data", "row"],   # multi heavy
    ["spark", "merge", "spark"],   # a repeated term counts once
    ["the", "the"],
]


@pytest.fixture(scope="module")
def index(spark, sf_dir):
    corpus = load_corpus(spark, sf_dir)
    idx = build_index(corpus, n_doc_parts=8)
    for name in ("doc_map", "term_dict", "postings", "stats"):
        idx[name] = idx[name].cache()
        idx[name].count()
    return idx


@pytest.mark.parametrize("terms", QUERIES)
def test_wand_matches_relational(spark, sf_dir, index, terms):
    corpus = load_corpus(spark, sf_dir)
    want = [
        (r["doc_id"], r["url"], r["score"])
        for r in bm25_topk(corpus, terms, k=10).collect()
    ]
    got = [
        (r["doc_id"], r["url"], r["score"])
        for r in wand_topk(index, terms, k=10).collect()
    ]
    assert got == want


def test_wand_k_larger_than_hits(spark, index):
    got = wand_topk(index, ["dup"], k=10_000).collect()
    assert len(got) > 0


def test_batch_matches_single(spark, sf_dir, index):
    from telegram2elastic_spark.query.wand import wand_topk_batch

    queries = {i: terms for i, terms in enumerate(QUERIES)}
    batch = wand_topk_batch(index, queries, k=10).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r["query_id"], []).append(
            (r["doc_id"], r["url"], r["score"])
        )
    for i, terms in queries.items():
        single = [
            (r["doc_id"], r["url"], r["score"])
            for r in wand_topk(index, terms, k=10).collect()
        ]
        assert by_q.get(i, []) == single, f"query {i} ({terms})"


def test_local_matches_distributed(spark, sf_dir, index):
    from telegram2elastic_spark.query.wand import wand_topk_local

    for terms in QUERIES:
        want = [
            (r["doc_id"], r["score"]) for r in wand_topk(index, terms, k=10).collect()
        ]
        got = wand_topk_local(index, terms, k=10)
        assert got == want, terms


def test_filtered_wand_matches_global_stats_bm25(spark, sf_dir, index):
    """Doc-level filters in the index path: ES filter-context semantics —
    global stats, filtered docs — rank-identical to the relational scorer
    in global_stats mode (and distinct from the filtered-stats mode)."""
    corpus = load_corpus(spark, sf_dir)
    for terms, flt, lang in (
        (["the", "data"], "lang = 'en'", "en"),
        (["spark", "merge"], "lang = 'fr'", "fr"),
    ):
        want = [
            (r["doc_id"], r["url"], r["score"])
            for r in bm25_topk(
                corpus, terms, k=10, lang=lang, global_stats=True
            ).collect()
        ]
        got = [
            (r["doc_id"], r["url"], r["score"])
            for r in wand_topk(index, terms, k=10, doc_filter=flt).collect()
        ]
        assert got == want, (terms, flt)
        got_local = [
            t[:1] for t in __import__(
                "telegram2elastic_spark.query.wand", fromlist=["wand_topk_local"]
            ).wand_topk_local(index, terms, k=10, doc_filter=flt)
        ]
        assert got_local == [(d,) for d, _, _ in want]


def test_conjunctive_mode(spark, sf_dir, index):
    """AND semantics: only docs containing every term; scores unchanged."""
    from telegram2elastic_spark.query.wand import wand_topk_local

    corpus = load_corpus(spark, sf_dir)
    for terms in (["spark", "merge"], ["the", "data", "row"], ["dup", "the"]):
        want = [
            (r["doc_id"], r["url"], r["score"])
            for r in bm25_topk(corpus, terms, k=10, conjunctive=True).collect()
        ]
        got = [
            (r["doc_id"], r["url"], r["score"])
            for r in wand_topk(index, terms, k=10, conjunctive=True).collect()
        ]
        assert got == want, terms
        local = wand_topk_local(index, terms, k=10, conjunctive=True)
        assert local == [(d, s) for d, _, s in want], terms
    # a required zero-hit term -> empty
    assert wand_topk(index, ["the", "zzzznotaterm"], k=10, conjunctive=True).count() == 0


def test_batch_doc_filter_matches_single_path(spark, sf_dir):
    """wand_topk_batch(doc_filter=...) must equal per-query wand_topk with
    the same filter (shared filter-context, cogroup-delivered)."""
    from telegram2elastic_spark.corpus import load_corpus
    from telegram2elastic_spark.index.build import build_index
    from telegram2elastic_spark.query.wand import wand_topk, wand_topk_batch

    idx = build_index(load_corpus(spark, sf_dir), n_doc_parts=4)
    queries = {0: ["the", "data", "row"], 1: ["spark", "merge"]}
    batch = wand_topk_batch(idx, queries, k=10, doc_filter="lang = 'en'")
    got = {
        qid: [
            (r["doc_id"], r["score"])
            for r in batch.filter(batch["query_id"] == qid).collect()
        ]
        for qid in queries
    }
    for qid, terms in queries.items():
        want = [
            (r["doc_id"], r["score"])
            for r in wand_topk(idx, terms, k=10, doc_filter="lang = 'en'").collect()
        ]
        assert got[qid] == want, qid


def test_min_should_match_matches_relational(spark, sf_dir, index):
    """ES minimum_should_match: docs must match >= m distinct query terms;
    every entry point is rank-identical to the relational scorer with the
    same bar, and a repeated query term counts (and scores) once."""
    from telegram2elastic_spark.query.wand import (
        wand_topk_batch,
        wand_topk_local,
    )

    corpus = load_corpus(spark, sf_dir)
    cases = [
        (["vector", "window", "batch"], (1, 2, 3)),
        (["spark", "merge", "spark"], (0, 2)),
        (["the", "the"], (0, 2)),
    ]
    for terms, bars in cases:
        batch = {}
        for r in wand_topk_batch(
            index, {m: terms for m in bars}, k=10,
            min_should_match={m: m for m in bars},
        ).collect():
            batch.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
        for m in bars:
            want = [
                (r["doc_id"], r["score"])
                for r in bm25_topk(
                    corpus, terms, k=10, min_should_match=m, global_stats=True
                ).collect()
            ]
            got = [
                (r["doc_id"], r["score"])
                for r in wand_topk(
                    index, terms, k=10, min_should_match=m
                ).collect()
            ]
            assert got == want, f"{terms} m={m}"
            assert wand_topk_local(
                index, terms, k=10, min_should_match=m
            ) == want, f"local {terms} m={m}"
            assert batch.get(m, []) == want, f"batch {terms} m={m}"
        # m == |distinct terms| is exactly conjunctive mode
        conj = [
            (r["doc_id"], r["score"])
            for r in wand_topk(index, terms, k=10, conjunctive=True).collect()
        ]
        msm = [
            (r["doc_id"], r["score"])
            for r in wand_topk(
                index, terms, k=10, min_should_match=len(set(terms))
            ).collect()
        ]
        assert conj == msm, terms


def test_min_should_match_unreachable_bar(index):
    """More required matches than terms with postings -> no results."""
    assert wand_topk(
        index, ["spark", "zzzznotaterm"], k=10, min_should_match=2
    ).count() == 0


def test_must_not_matches_relational(spark, sf_dir, index):
    """ES bool must_not: filter context — excluded docs dropped, idf/N
    unchanged; rank-identical to the relational scorer's exclusion."""
    corpus = load_corpus(spark, sf_dir)
    for terms, ex in (
        (["spark", "merge"], ["vector"]),
        (["the"], ["data", "row"]),          # heavy excludes
        (["spark"], ["zzzznotaterm"]),       # exclusion with no postings
    ):
        want = [
            (r["doc_id"], r["score"])
            for r in bm25_topk(
                corpus, terms, k=10, exclude_terms=ex, global_stats=True
            ).collect()
        ]
        got = [
            (r["doc_id"], r["score"])
            for r in wand_topk(index, terms, k=10, exclude_terms=ex).collect()
        ]
        assert got == want, f"{terms} NOT {ex}"


def test_must_not_excluded_docs_absent(spark, sf_dir, index):
    """No returned doc may contain an excluded term (checked on raw text)."""
    from telegram2elastic_spark.functions.tokenizer import py_tokenize

    corpus = load_corpus(spark, sf_dir)
    got = wand_topk(index, ["spark", "merge"], k=25, exclude_terms=["vector"])
    ids = [r["doc_id"] for r in got.collect()]
    rows = corpus.filter(F_col_in("doc_id", ids)).select("doc_id", "text").collect()
    assert rows, "expected some hits"
    for r in rows:
        assert "vector" not in py_tokenize(r["text"])


def F_col_in(name, values):
    from pyspark.sql import functions as F

    return F.col(name).isin(values)


def test_msm_and_mustnot_local_matches_distributed(spark, sf_dir, index):
    from telegram2elastic_spark.query.wand import wand_topk_local

    dist = [
        (r["doc_id"], r["score"])
        for r in wand_topk(
            index, ["vector", "window", "batch"], k=10,
            min_should_match=2, exclude_terms=["spark"],
        ).collect()
    ]
    loc = wand_topk_local(
        index, ["vector", "window", "batch"], k=10,
        min_should_match=2, exclude_terms=["spark"],
    )
    assert [(d, s) for d, s in loc] == dist


def test_bmw_rejects_bool_knobs(index):
    for kw in (
        {"conjunctive": True},
        {"min_should_match": 2},
        {"exclude_terms": ["the"]},
    ):
        with pytest.raises(ValueError):
            wand_topk(index, ["spark", "merge"], algo="bmw", **kw)


def test_batch_bool_knobs_match_single_path(spark, sf_dir, index):
    """Batch msm/exclude == the single-query path, per query."""
    from telegram2elastic_spark.query.wand import wand_topk_batch

    queries = {
        0: ["vector", "window", "batch"],     # msm 2
        1: ["spark", "merge"],                # exclude vector
        2: ["the", "data", "row"],            # plain
        3: ["vector", "window", "zzzz"],      # msm 2 with a dead term
    }
    msm = {0: 2, 3: 2}
    excl = {1: ["vector"]}
    batch = wand_topk_batch(
        index, queries, k=10, min_should_match=msm, exclude_terms=excl
    ).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, terms in queries.items():
        want = [
            (r["doc_id"], r["score"])
            for r in wand_topk(
                index, terms, k=10,
                min_should_match=msm.get(qid, 0),
                exclude_terms=excl.get(qid),
            ).collect()
        ]
        assert by_q.get(qid, []) == want, qid


def test_batch_exclude_term_outside_query_terms(spark, sf_dir, index):
    """Regression: an excluded term that is NOT any query's term in the
    batch has no idf entry — the kernel must take the ids-only decode path
    instead of looking the term up in the query-terms idf map (r3 bug:
    KeyError inside the applyInPandas kernel)."""
    from telegram2elastic_spark.query.wand import wand_topk_batch

    queries = {0: ["the", "data"], 1: ["spark", "merge"]}
    excl = {0: ["vector"], 1: ["window", "batch"]}  # disjoint from queries
    batch = wand_topk_batch(index, queries, k=10, exclude_terms=excl).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, terms in queries.items():
        want = [
            (r["doc_id"], r["score"])
            for r in wand_topk(
                index, terms, k=10, exclude_terms=excl[qid]
            ).collect()
        ]
        assert by_q.get(qid, []) == want, qid


def test_batch_per_query_doc_filters(spark, sf_dir, index):
    """ES-msearch filter context: each batch query scored only over the
    docs ITS predicate admits (predicates deduplicated), equal to the
    single-query path with the same filter; unfiltered queries mix in."""
    from telegram2elastic_spark.query.wand import wand_topk_batch

    queries = {
        0: ["the", "data"],
        1: ["spark", "merge"],
        2: ["the", "data"],
        3: ["vector", "window"],
    }
    filters = {0: "lang = 'en'", 1: "lang = 'fr'", 2: "lang = 'en'"}
    batch = wand_topk_batch(index, queries, k=10, doc_filter=filters).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, terms in queries.items():
        want = [
            (r["doc_id"], r["score"])
            for r in wand_topk(
                index, terms, k=10, doc_filter=filters.get(qid)
            ).collect()
        ]
        assert by_q.get(qid, []) == want, qid


def test_search_after_cursor_pagination(spark, sf_dir, index):
    """ES search_after on the index path: page 2 via the (score, doc_id)
    cursor of page 1's last hit == rows k..2k of the full ranking; local
    path identical; empty beyond the last page."""
    from telegram2elastic_spark.query.wand import wand_topk_local

    corpus = load_corpus(spark, sf_dir)
    terms, k = ["the", "data"], 10
    full = [
        (r["doc_id"], r["score"])
        for r in bm25_topk(corpus, terms, k=3 * k).collect()
    ]
    page1 = [
        (r["doc_id"], r["score"])
        for r in wand_topk(index, terms, k=k).collect()
    ]
    assert page1 == full[:k]
    cursor = (page1[-1][1], page1[-1][0])
    page2 = [
        (r["doc_id"], r["score"])
        for r in wand_topk(index, terms, k=k, after=cursor).collect()
    ]
    assert page2 == full[k : 2 * k]
    assert wand_topk_local(index, terms, k=k, after=cursor) == page2
    # cursor at the very last match -> empty page
    deep = wand_topk_local(index, terms, k=10_000, after=cursor)
    last = deep[-1]
    assert wand_topk_local(index, terms, k=k, after=(last[1], last[0])) == []


def test_batch_per_query_cursors(spark, sf_dir, index):
    """Per-query search_after in the batch: each query pages from its own
    cursor, equal to the single path; cursorless queries unaffected."""
    from telegram2elastic_spark.query.wand import wand_topk_batch

    queries = {0: ["the", "data"], 1: ["spark", "merge"], 2: ["dup"]}
    cursors = {}
    for qid in (0, 1):
        p1 = wand_topk(index, queries[qid], k=5).collect()
        cursors[qid] = (p1[-1]["score"], p1[-1]["doc_id"])
    batch = wand_topk_batch(index, queries, k=5, after=cursors).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, terms in queries.items():
        want = [
            (r["doc_id"], r["score"])
            for r in wand_topk(
                index, terms, k=5, after=cursors.get(qid)
            ).collect()
        ]
        assert by_q.get(qid, []) == want, qid


def test_local_pyarrow_fetch_matches_spark_fetch(spark, sf_dir, tmp_path):
    """The written-index local path fetches posting blocks driver-side via
    pyarrow (wand._pyarrow_blocks).  Contract: same row set as the pruned
    Spark fetch, same rankings, and handles that stop mirroring the
    directory (resize_doc_parts) fall back to the Spark route."""
    from telegram2elastic_spark.index.build import read_index, write_index
    from telegram2elastic_spark.index.maintenance import resize_index
    from telegram2elastic_spark.query.wand import (
        _local_blocks,
        _pyarrow_blocks,
        wand_topk_local,
    )

    corpus = load_corpus(spark, sf_dir)
    out = str(tmp_path / "idx")
    write_index(build_index(corpus, n_doc_parts=8), out)
    idx_pa = read_index(spark, out)
    assert idx_pa.get("_postings_dir") == f"{out}/postings"
    idx_sp = read_index(spark, out)
    # force the Spark routes (block fetch, idf/stats lookup, url fill)
    for seam in ("_postings_dir", "_term_dict_dir", "_stats_dir",
                 "_doc_map_dir"):
        idx_sp.pop(seam)

    # block-level identity: same (term, block) rows from both engines
    terms = ["the", "spark", "merge", "dup", "zzzznotaterm"]
    pa_rows = _pyarrow_blocks(idx_pa, terms)
    sp_rows = _local_blocks(idx_sp, terms, terms)
    key = ["term", "block_id", "first_doc_id"]
    pa_sorted = pa_rows.sort_values(key).reset_index(drop=True)
    sp_sorted = sp_rows.sort_values(key).reset_index(drop=True)
    assert len(pa_sorted) == len(sp_sorted) > 0
    for col in sp_sorted.columns:
        assert list(pa_sorted[col]) == list(sp_sorted[col]), col

    # rank identity across the two engines for every query shape
    for q in QUERIES:
        assert wand_topk_local(idx_pa, q, k=10) == wand_topk_local(
            idx_sp, q, k=10
        ), q
    # the fast path actually ran (dataset memoized on the handle)
    assert "_post_ds" in idx_pa

    # batch path: the driver-side url fill must equal the broadcast-join
    # route row for row (ordering included)
    from telegram2elastic_spark.query.wand import wand_topk_batch

    queries = {i: q for i, q in enumerate(QUERIES)}
    rows_pa_b = [
        (r["query_id"], r["doc_id"], r["url"], r["score"])
        for r in wand_topk_batch(idx_pa, queries, k=10).collect()
    ]
    rows_sp_b = [
        (r["query_id"], r["doc_id"], r["url"], r["score"])
        for r in wand_topk_batch(idx_sp, queries, k=10).collect()
    ]
    assert rows_pa_b == rows_sp_b

    # a resized view must NOT serve stale directory reads
    resized = resize_index(read_index(spark, out), 4)
    assert "_postings_dir" not in resized and "_post_ds" not in resized
    assert wand_topk_local(resized, ["spark", "merge"], k=10) == (
        wand_topk_local(idx_pa, ["spark", "merge"], k=10)
    )


def test_arrow_read_failure_warns_and_falls_back(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A driver-side pyarrow read that fails (here: every dataset open
    raises OSError) falls back to the Spark route with the same rows, and
    says so once per handle, table and cause — not once per query."""
    import pyarrow.dataset as pads

    from telegram2elastic_spark.index.build import read_index, write_index
    from telegram2elastic_spark.query.wand import (
        wand_topk_batch,
        wand_topk_local,
    )

    out = str(tmp_path / "idx")
    write_index(build_index(load_corpus(spark, sf_dir), n_doc_parts=8), out)
    # the local pass reads postings and stats (its idfs come from the
    # posting blocks); the batch then reads term_dict for the terms the
    # local pass did not see, and doc_map for its urls
    queries = dict(enumerate(QUERIES + [["join", "filter"]]))
    want_local = [wand_topk_local(read_index(spark, out), q, k=10) for q in QUERIES]
    want_batch = wand_topk_batch(read_index(spark, out), queries, k=10).collect()

    def unreadable(*args, **kwargs):
        raise OSError("unreadable parquet footer")

    monkeypatch.setattr(pads, "dataset", unreadable)
    idx = read_index(spark, out)
    with pytest.warns(RuntimeWarning) as rec:
        got_local = [wand_topk_local(idx, q, k=10) for q in QUERIES]
        got_batch = wand_topk_batch(idx, queries, k=10).collect()
        wand_topk_batch(idx, queries, k=10).collect()
    assert got_local == want_local
    assert got_batch == want_batch
    msgs = [
        str(w.message) for w in rec if "using the Spark route" in str(w.message)
    ]
    tables = sorted(m.split(" table")[0].split()[-1] for m in msgs)
    assert tables == ["doc_map", "postings", "stats", "term_dict"], msgs
    assert all("OSError: unreadable parquet footer" in m for m in msgs)
