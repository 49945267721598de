"""The three workloads.  Each takes a run.Context and returns a Result.

A workload does its set-up (corpus generation, warm-up, any index it
serves), calls ctx.setup_done(), then runs whole rounds of the same
operations until ctx.seconds have passed, so `failed / attempted` is the same
in every run.  Checks run after the timed calls of a round, outside every
timed section.  Sizes are the module constants below; README.md says why.

Every workload reports the same end-to-end and per-layer metrics, each
measured over its own operations (README.md, "End-to-end metrics"); the
figures particular to one workload go into `Result.detail`.
"""

from __future__ import annotations

import ctypes
import gc
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
import spans
from oracle import BM25Oracle, same_topk, search_oracle

#: index layout for every build: doc partitions sized to a 4-core host
DOC_PARTS = 4
K = 10


@dataclass
class Result:
    end_to_end: dict = field(default_factory=dict)  # name -> (value, unit)
    layer: dict = field(default_factory=dict)
    detail: dict = field(default_factory=dict)  # this workload's own figures
    attempted: int = 0
    failed: int = 0
    rounds: int = 0
    problems: list = field(default_factory=list)

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.problems.append(what)


def _median(xs) -> float:
    return float(statistics.median(xs))


def _p95(xs) -> float:
    return float(np.percentile(np.asarray(xs), 95))


class Clock:
    """Wall time of a round's timed calls, summed per round (checks excluded)."""

    def __init__(self):
        self.rounds: list[float] = []

    def new_round(self) -> None:
        self.rounds.append(0.0)

    def since(self, t0: float) -> float:
        dt = time.perf_counter() - t0
        self.rounds[-1] += dt
        return dt


def _end_to_end(ctx, clock: Clock, query_s: float, n_queries: int,
                write_docs_per_s: float, bytes_per_doc: float) -> dict:
    """The metrics every workload prints, over its own operations."""
    return {
        "setup_s": (ctx.setup_s, "s"),
        "round_s": (_median(clock.rounds), "s"),
        "query_ms": (1e3 * query_s / n_queries, "ms"),
        "write_docs_per_s": (write_docs_per_s, "docs/s"),
        "index_bytes_per_doc": (bytes_per_doc, "bytes"),
    }


def _common_layers(ctx, res, *, writes, n_writes, queries, n_queries, round_spans) -> None:
    """The per-layer metrics every workload prints, from its spans: the
    write calls, the query calls, and every timed call of a round."""
    tr = ctx.tr

    def tot(names, key):
        return sum(tr.total(n, key) for n in names)

    res.layer.update(
        {
            "write.spark_jobs": (tot(writes, "spark_jobs") / n_writes, "count"),
            "write.cpu_s": (tot(writes, "cpu_s") / n_writes, "s"),
            "query.spark_jobs_per_query": (tot(queries, "spark_jobs") / n_queries, "count"),
            "query.cpu_ms_per_query": (1e3 * tot(queries, "cpu_s") / n_queries, "ms"),
            "round.spark_jobs": (tot(round_spans, "spark_jobs") / res.rounds, "count"),
            "round.cpu_s": (tot(round_spans, "cpu_s") / res.rounds, "s"),
        }
    )


def _postings_layers(res, postings_dir: str, terms=None) -> None:
    """Codec figures of a written postings table, read with pyarrow: its
    block count, bytes per posting, and `decode_many`'s rate over the blocks
    of `terms` (every block when None), timed for at least a second."""
    from telegram2elastic_spark.index.codec import decode_many

    meta = (
        ds.dataset(postings_dir, format="parquet", partitioning="hive")
        .to_table(columns=["term", "n_docs", "doc_gaps", "tf_bytes", "dl_bytes"])
        .to_pandas()
    )
    sel = meta if terms is None else meta[meta["term"].isin(set(terms))]
    n_postings = int(sel["n_docs"].sum())
    args = (
        [bytes(x) for x in sel["doc_gaps"]],
        [bytes(x) for x in sel["tf_bytes"]],
        [bytes(x) for x in sel["dl_bytes"]],
        sel["n_docs"].to_numpy(),
    )
    decode_many(*args)  # warm-up
    reps, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < 1.0:
        decode_many(*args)
        reps += 1
    res.layer.update(
        {
            "index.postings.blocks": (len(meta), "count"),
            "index.postings.bytes_per_posting": (
                _dir_bytes(postings_dir) / int(meta["n_docs"].sum()), "bytes"),
            "index.codec.decode_mpostings_per_s": (
                reps * n_postings / (time.perf_counter() - t0) / 1e6, "Mpostings/s"),
        }
    )


def _run_rounds(ctx, one_round) -> int:
    """Whole rounds until ctx.seconds have passed (at least one)."""
    end = time.perf_counter() + ctx.seconds
    n = 0
    while True:
        one_round(n)
        n += 1
        if time.perf_counter() >= end:
            return n


def _write_snapshot(rows, path: str, n_files: int) -> None:
    """The generated rows as a crawl snapshot: n_files parquet files."""
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(rows, preserve_index=False)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(
            table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet")
        )


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def _postings_meta(index_dir: str, columns: list[str]):
    """Columns of a written postings table, read with pyarrow."""
    return (
        ds.dataset(f"{index_dir}/postings", format="parquet", partitioning="hive")
        .to_table(columns=columns)
        .to_pandas()
    )


def _settled_rss() -> int:
    """Resident set after returning freed memory to the OS, so that growth
    measured from here does not depend on what earlier phases left cached."""
    gc.collect()
    pa.default_memory_pool().release_unused()
    ctypes.CDLL("libc.so.6").malloc_trim(0)
    return spans.rss_bytes()


def _setup_corpus(ctx, res: Result, n_docs: int):
    with ctx.tr.span("corpus.generate", counters=ctx.trace):
        t0 = time.perf_counter()
        c = gen.make_corpus(ctx.seed, n_docs)
        rows = c.frame()
        _write_snapshot(rows, ctx.path("corpus"), 8)
        gen_s = time.perf_counter() - t0
    corpus = ctx.spark.read.parquet(ctx.path("corpus"))
    if ctx.trace:
        res.layer["corpus.generate_s"] = (gen_s, "s")
        res.layer["session.start_s"] = (ctx.spark_start_s, "s")
    return c, rows, corpus


# --------------------------------------------------------------------------
# offline: crawl-snapshot batch job
# --------------------------------------------------------------------------

OFFLINE_DOCS = 8_000
DEDUP_DOCS = 3_000  # a prefix slice that ends on a dup-window boundary
SCANS_PER_ROUND = 3
SEARCHES_PER_ROUND = 5


def offline(ctx) -> Result:
    from telegram2elastic_spark.index.build import build_index, write_index
    from telegram2elastic_spark.operators.dedup import dedup_components
    from telegram2elastic_spark.query.bm25 import bm25_topk
    from telegram2elastic_spark.query.search import search_count, search_page

    res = Result()
    tr = ctx.tr
    c, rows, corpus = _setup_corpus(ctx, res, OFFLINE_DOCS)
    pool = gen.make_queries(ctx.seed, 400)
    rng = np.random.default_rng([ctx.seed, 11])

    def search_req(q):
        langs = [q["lang"]] if q["lang"] else None
        return q["terms"][0], langs, int(rng.integers(0, 3)) * 20, 20

    # warm-up: one relational scan and one search request, untimed
    bm25_topk(corpus, pool[-1]["terms"]).collect()
    w = search_req(pool[-2])
    search_page(corpus, q=w[0], langs=w[1], offset=w[2], limit=w[3]).collect()
    ctx.setup_done()

    slice_df = corpus.filter(F.col("doc_id") < DEDUP_DOCS)
    build_s, sizes, dedup_s, scan_ms, search_ms = [], [], [], [], []
    tm_all: list[dict] = []
    clustered: list[int] = []
    oracle = {}
    clock = Clock()

    def one_round(r: int) -> None:
        clock.new_round()
        idx_dir = ctx.path(f"index-{r}")
        tm: dict = {}
        with tr.span("index.build", op=f"build-{r}", counters=ctx.trace):
            t0 = time.perf_counter()
            write_index(build_index(corpus, n_doc_parts=DOC_PARTS), idx_dir, timings=tm)
            build_s.append(clock.since(t0))
        tm_all.append(tm)
        sizes.append(_dir_bytes(idx_dir))

        with tr.span("operators.dedup", op=f"dedup-{r}", counters=ctx.trace):
            t0 = time.perf_counter()
            comp = dedup_components(slice_df).collect()
            dedup_s.append(clock.since(t0))

        scans = pool[r * SCANS_PER_ROUND : (r + 1) * SCANS_PER_ROUND]
        scan_out = []
        with tr.span("query.bm25", op=f"scan-{r}", counters=ctx.trace):
            for q in scans:
                t0 = time.perf_counter()
                got = bm25_topk(
                    corpus, q["terms"], k=K, lang=q["lang"], global_stats=True
                ).collect()
                scan_ms.append(clock.since(t0) * 1e3)
                scan_out.append(got)

        reqs = [search_req(q) for q in pool[200 + r * SEARCHES_PER_ROUND :][:SEARCHES_PER_ROUND]]
        search_out = []
        with tr.span("query.search", op=f"search-{r}", counters=ctx.trace):
            for qs, langs, off, lim in reqs:
                t0 = time.perf_counter()
                page = search_page(corpus, q=qs, langs=langs, offset=off, limit=lim).collect()
                total = search_count(corpus, q=qs, langs=langs).collect()
                search_ms.append(clock.since(t0) * 1e3)
                search_out.append(([x["doc_id"] for x in page], total[0]["total"]))
        res.attempted += 2 + len(scans) + len(reqs)

        # ---- checks (untimed) ----
        if "bm25" not in oracle:
            oracle["bm25"] = BM25Oracle(c.doc_ids, c.offsets, c.toks)
        orc = oracle["bm25"]
        _check_index_totals(res, idx_dir, orc)
        if r == 0 and ctx.trace:
            terms = [t for q in pool[: SCANS_PER_ROUND] for t in q["terms"]]
            _postings_layers(res, f"{idx_dir}/postings", terms)
        _check_dedup(res, c, comp)
        clustered.append(len(comp))
        for q, got in zip(scans, scan_out):
            allowed = None if q["lang"] is None else (c.lang == q["lang"])
            want = orc.topk(q["terms"], K, allowed)
            res.check(
                same_topk([(x["doc_id"], x["score"]) for x in got], want),
                f"bm25_topk {q['terms']} lang={q['lang']}",
            )
        for (qs, langs, off, lim), got in zip(reqs, search_out):
            want = search_oracle(rows, qs, langs, off, lim)
            res.check(got == want, f"search_page/count q={qs} langs={langs} off={off}")
        shutil.rmtree(idx_dir, ignore_errors=True)

    res.rounds = _run_rounds(ctx, one_round)
    n, rounds = OFFLINE_DOCS, res.rounds
    n_queries = len(scan_ms) + len(search_ms)
    res.end_to_end = _end_to_end(
        ctx, clock, (sum(scan_ms) + sum(search_ms)) / 1e3, n_queries,
        n / _median(build_s), _median(sizes) / n,
    )
    res.detail = {
        "build_docs_per_s": (n / _median(build_s), "docs/s"),
        "dedup_docs_per_s": (DEDUP_DOCS / _median(dedup_s), "docs/s"),
        "scan_query_p50_ms": (_median(scan_ms), "ms"),
        "search_page_p50_ms": (_median(search_ms), "ms"),
        "operators.dedup.clustered_docs": (_median(clustered), "count"),
    }
    if ctx.trace:
        def tsum(*names):
            return _median([sum(t.get(k, 0.0) for k in names) for t in tm_all])

        _common_layers(
            ctx, res, writes=["index.build"], n_writes=rounds,
            queries=["query.bm25", "query.search"], n_queries=n_queries,
            round_spans=["index.build", "operators.dedup", "query.bm25", "query.search"],
        )
        res.detail.update(
            {
                "index.write.postings_s": (tsum("postings_encode_write"), "s"),
                "index.write.term_dict_s": (tsum("term_dict_write", "term_dict_sorted_write"), "s"),
                "index.write.doc_map_s": (tsum("doc_map_write", "stats_write"), "s"),
                "operators.dedup.spark_jobs": (tr.total("operators.dedup", "spark_jobs") / rounds, "count"),
                "operators.dedup.cpu_s": (tr.total("operators.dedup", "cpu_s") / rounds, "s"),
                "query.bm25.spark_jobs_per_query": (
                    tr.total("query.bm25", "spark_jobs") / (rounds * SCANS_PER_ROUND), "count"),
                "query.search.spark_jobs_per_request": (
                    tr.total("query.search", "spark_jobs") / (rounds * SEARCHES_PER_ROUND), "count"),
            }
        )
    return res


def _check_index_totals(res: Result, idx_dir: str, orc: BM25Oracle) -> None:
    stats = pq.read_table(f"{idx_dir}/stats").to_pylist()[0]
    res.check(stats["n_docs"] == orc.n, f"stats.n_docs {stats['n_docs']} != {orc.n}")
    res.check(
        stats["total_tokens"] == orc.total_tokens,
        f"stats.total_tokens {stats['total_tokens']} != {orc.total_tokens}",
    )
    n_postings = int(_postings_meta(idx_dir, ["n_docs"])["n_docs"].sum())
    td = (
        ds.dataset(f"{idx_dir}/term_dict", format="parquet", partitioning="hive")
        .to_table(columns=["term", "df"])
        .to_pandas()
    )
    res.check(
        n_postings == int(td["df"].sum()) == orc.n_pairs,
        f"sum postings n_docs {n_postings}, sum df {int(td['df'].sum())}, "
        f"(term, doc) pairs {orc.n_pairs} differ",
    )
    want = {str(gen.WORDS[t]): int(d) for t, d in enumerate(orc.df) if d}
    got = dict(zip(td["term"], td["df"].astype(int)))
    res.check(got == want, "term_dict df differs from the generator's counts")


def _check_dedup(res: Result, c: gen.Corpus, comp) -> None:
    component = {int(r["doc_id"]): int(r["component"]) for r in comp}
    res.check(len(component) == len(comp), "dedup_components lists a doc twice")
    members: dict[int, list[int]] = {}
    for d, k in component.items():
        members.setdefault(k, []).append(d)
    res.check(
        all(k == min(m) for k, m in members.items()),
        "a dedup component id is not its minimum doc_id",
    )
    for cl in c.clusters:
        if cl[-1] >= DEDUP_DOCS:
            continue
        ids = {component.get(int(d)) for d in cl}
        res.check(
            len(ids) == 1 and None not in ids,
            f"planted cluster {cl.tolist()} split or missed: {ids}",
        )


# --------------------------------------------------------------------------
# serve: one closed-loop client over a written index
# --------------------------------------------------------------------------

SERVE_DOCS = 12_000
COLD_QUERIES = 200
COLD_HANDLES = 2
WARM_PASSES = 8  # in total, split over the handles
FILTERED_QUERIES = 20
BATCH_QUERIES = 120
BATCH_REPEATS = 2
#: seed-independent queries that repeat a term: wand_topk_batch scores the
#: repeat once per occurrence, so these fail in every run until it is fixed
REPEAT_PROBES = [["w27", "w9", "w27"], ["w3", "w3"]]


def serve(ctx) -> Result:
    from telegram2elastic_spark.index.build import build_index, read_index, write_index
    from telegram2elastic_spark.query.wand import wand_topk_batch, wand_topk_local

    res = Result()
    tr = ctx.tr
    c, rows, corpus = _setup_corpus(ctx, res, SERVE_DOCS)
    idx_dir = ctx.path("index")
    # the build is set-up here; it is timed on its own all the same
    with tr.span("index.build", op="serve-build", counters=ctx.trace):
        t0 = time.perf_counter()
        write_index(build_index(corpus, n_doc_parts=DOC_PARTS), idx_dir)
        build_s = time.perf_counter() - t0
    index_bytes = _dir_bytes(idx_dir)
    pool = gen.make_queries(ctx.seed, 400)
    cold_qs = pool[:COLD_QUERIES]
    # 3:1 en:uk, so the median sits among the (slower) en-filtered queries
    filt_qs = [q for q in cold_qs if q["lang"] == "en"][: FILTERED_QUERIES * 3 // 4]
    filt_qs += [q for q in cold_qs if q["lang"] == "uk"][: FILTERED_QUERIES // 4]
    batch_qs = [q for q in pool if not gen.has_repeat(q["terms"])][:BATCH_QUERIES]
    batch = {q["qid"]: q["terms"] for q in batch_qs}
    probe_ids = {}
    for i, terms in enumerate(REPEAT_PROBES):
        probe_ids[10_000 + i] = terms
    batch.update(probe_ids)

    # warm-up on a throwaway handle: cold and warm local queries, two
    # filtered ones and a small batch
    h = read_index(ctx.spark, idx_dir)
    for q in pool[-20:]:
        wand_topk_local(h, q["terms"], k=K)
        wand_topk_local(h, q["terms"], k=K)
    for lang in ("en", "uk"):
        wand_topk_local(h, pool[-1]["terms"], k=K, doc_filter=f"lang = '{lang}'")
    wand_topk_batch(h, {q["qid"]: q["terms"] for q in pool[-10:]}, k=K).collect()
    del h
    gc.collect()
    ctx.setup_done()

    cold_ms, warm_s, filt_ms, batch_s, rss_growth = [], [], [], [], []
    warm_cpu_s, warm_by_qid = [], {}
    oracle = {}
    clock = Clock()

    def handle_pass(r: int, part: int):
        """A fresh handle: the cold pass over it, then warm passes."""
        h = read_index(ctx.spark, idx_dir)
        rss0 = _settled_rss()
        cold_out = []
        with tr.span("query.local.cold_pass", op=f"cold-{r}-{part}", counters=ctx.trace):
            for q in cold_qs:
                with tr.span("query.local", op=q["qid"]):
                    t0 = time.perf_counter()
                    got = wand_topk_local(h, q["terms"], k=K)
                    cold_ms.append(clock.since(t0) * 1e3)
                cold_out.append(got)
        rss_growth.append(spans.rss_bytes() - rss0)
        with tr.span("query.local.warm_passes", op=f"warm-{r}-{part}", counters=ctx.trace):
            for _ in range(WARM_PASSES // COLD_HANDLES):
                warm_out = []
                c0, t_pass = time.process_time(), time.perf_counter()
                for q in cold_qs:
                    t0 = time.perf_counter()
                    warm_out.append(wand_topk_local(h, q["terms"], k=K))
                    warm_by_qid.setdefault(q["qid"], []).append(time.perf_counter() - t0)
                warm_s.append(clock.since(t_pass))
                warm_cpu_s.append(time.process_time() - c0)
        return h, cold_out + warm_out

    def one_round(r: int) -> None:
        # two fresh handles, so the cold and warm samples of a run are
        # spread over the round instead of sharing one burst of host noise;
        # the filtered queries run on the first, the batch on the second
        clock.new_round()
        h, local_out = handle_pass(r, 0)
        filt_out = []
        with tr.span("query.local.filtered", op=f"filt-{r}", counters=ctx.trace):
            for q in filt_qs:
                t0 = time.perf_counter()
                got = wand_topk_local(h, q["terms"], k=K, doc_filter=f"lang = '{q['lang']}'")
                filt_ms.append(clock.since(t0) * 1e3)
                filt_out.append(got)
        del h
        h, more = handle_pass(r, 1)
        local_out += more
        batch_out = []
        for b in range(BATCH_REPEATS):
            with tr.span("query.batch", op=f"batch-{r}-{b}", counters=ctx.trace):
                t0 = time.perf_counter()
                batch_out.append(wand_topk_batch(h, batch, k=K).collect())
                batch_s.append(clock.since(t0))
        res.attempted += (
            (COLD_HANDLES + WARM_PASSES) * len(cold_qs)
            + len(filt_qs)
            + BATCH_REPEATS * len(batch)
        )

        # ---- checks (untimed) ----
        if "bm25" not in oracle:
            oracle["bm25"] = BM25Oracle(c.doc_ids, c.offsets, c.toks)
            oracle["answers"] = {}
        orc, answers = oracle["bm25"], oracle["answers"]

        def want(terms, lang=None):
            key = (tuple(terms), lang)
            if key not in answers:
                allowed = None if lang is None else (c.lang == lang)
                answers[key] = orc.topk(terms, K, allowed)
            return answers[key]

        for q, got in zip(cold_qs * 4, local_out):
            res.check(same_topk(got, want(q["terms"])), f"local {q['terms']}")
        for q, got in zip(filt_qs, filt_out):
            res.check(
                same_topk(got, want(q["terms"], q["lang"])),
                f"filtered local {q['terms']} lang={q['lang']}",
            )
        for brows in batch_out:
            by_qid: dict[int, list] = {}
            for row in brows:
                by_qid.setdefault(row["query_id"], []).append((row["doc_id"], row["score"]))
            for qid, terms in batch.items():
                ok = same_topk(by_qid.get(qid, []), want(terms))
                if qid in probe_ids:
                    res.failed += not ok
                else:
                    res.check(ok, f"wand_topk_batch {terms}")
        if r == 0 and ctx.trace:
            _serve_layers(res, idx_dir, cold_qs, rss_growth[0])
        del h
        gc.collect()

    res.rounds = _run_rounds(ctx, one_round)
    query_s = (sum(cold_ms) + sum(filt_ms)) / 1e3 + sum(warm_s) + sum(batch_s)
    n_queries = (
        len(cold_ms) + len(warm_s) * len(cold_qs) + len(filt_ms) + len(batch_s) * len(batch)
    )
    res.end_to_end = _end_to_end(
        ctx, clock, query_s, n_queries, SERVE_DOCS / build_s, index_bytes / SERVE_DOCS
    )
    res.detail.update(  # the traced round has put its pyarrow figures in already
        {
            "cold_query_p50_ms": (_median(cold_ms), "ms"),
            "cold_query_p95_ms": (_p95(cold_ms), "ms"),
            "warm_qps": (len(cold_qs) / _median(warm_s), "queries/s"),
            "filtered_query_p50_ms": (_median(filt_ms), "ms"),
            "batch_qps": (len(batch) / _median(batch_s), "queries/s"),
            "query_node_rss_mb": (_median(rss_growth) / 2**20, "MB"),
        }
    )
    if ctx.trace:
        rounds = res.rounds
        warm_p50 = _median([_median(warm_by_qid[q["qid"]]) for q in filt_qs]) * 1e3
        query_spans = [
            "query.local.cold_pass", "query.local.warm_passes",
            "query.local.filtered", "query.batch",
        ]
        _common_layers(
            ctx, res, writes=["index.build"], n_writes=1,
            queries=query_spans, n_queries=n_queries, round_spans=query_spans,
        )
        res.detail.update(
            {
                "query.local.spark_jobs_per_cold_query": (
                    tr.total("query.local.cold_pass", "spark_jobs") / len(cold_ms), "count"),
                "query.local.cold_minus_warm_ms": (
                    _median(cold_ms) - 1e3 * _median(warm_s) / len(cold_qs), "ms"),
                "query.local.warm_cpu_ms_per_query": (
                    1e3 * _median(warm_cpu_s) / len(cold_qs), "ms"),
                "query.local.filter_extra_ms": (_median(filt_ms) - warm_p50, "ms"),
                "query.local.spark_jobs_per_filtered_query": (
                    tr.total("query.local.filtered", "spark_jobs") / (rounds * len(filt_qs)), "count"),
                "query.batch.spark_jobs": (tr.total("query.batch", "spark_jobs") / len(batch_s), "count"),
                "query.batch.cpu_s": (tr.total("query.batch", "cpu_s") / len(batch_s), "s"),
            }
        )
    return res


def _serve_layers(res, idx_dir, cold_qs, rss_growth) -> None:
    """Per-layer serve figures read from the written index with pyarrow:
    blocks a cold pass fetches, postings it keeps resident, and the codec's
    decode rate over exactly those blocks."""
    terms = {t for q in cold_qs for t in q["terms"]}
    _postings_layers(res, f"{idx_dir}/postings", terms)
    meta = _postings_meta(idx_dir, ["term", "n_docs"])
    sel = meta[meta["term"].isin(terms)]
    res.detail.update(
        {
            "query.local.blocks_fetched_per_cold_query": (len(sel) / len(cold_qs), "count"),
            "query.local.rss_bytes_per_resident_posting": (
                rss_growth / max(1, int(sel["n_docs"].sum())), "bytes"),
        }
    )


# --------------------------------------------------------------------------
# ingest: micro-batches and edits beside fresh-data reads
# --------------------------------------------------------------------------

INGEST_BATCH_DOCS = 200
INGEST_BATCHES = 2
EDITS = 10
FRESH_QUERIES = 5


def ingest(ctx) -> Result:
    from telegram2elastic_spark.query.wand import _index_stats, wand_topk_local
    from telegram2elastic_spark.streaming.ingest import IncrementalIndexer

    res = Result()
    tr = ctx.tr
    n = INGEST_BATCH_DOCS * INGEST_BATCHES
    c, rows, _ = _setup_corpus(ctx, res, n)
    # edits: EDITS docs of the first batch gain three extra words
    rng = np.random.default_rng([ctx.seed, 13])
    edited_pos = np.sort(rng.choice(INGEST_BATCH_DOCS, EDITS, replace=False))
    extra = rng.integers(0, gen.VOCAB, (EDITS, 3)).astype(np.int32)
    edit_rows = rows.iloc[edited_pos].copy()
    edit_rows["text"] = [
        t + " " + " ".join(gen.WORDS[e]) for t, e in zip(edit_rows["text"], extra)
    ]
    # commits: (kind, batch_id, snapshot dir, batch number): the first
    # micro-batch opens the index, the second goes in through upsert_batch
    # together with the edits
    commits = []
    for b in range(INGEST_BATCHES):
        path = ctx.path(f"batch-{b}")
        part = rows.iloc[b * INGEST_BATCH_DOCS : (b + 1) * INGEST_BATCH_DOCS]
        kind = "ingest" if b == 0 else "upsert"
        if kind == "upsert":
            part = pd.concat([part, edit_rows])
        _write_snapshot(part, path, 2)
        commits.append((kind, f"b{b}", path, b))
    fresh = [q for q in gen.make_queries(ctx.seed, 400) if q["cls"] != "zero"][:FRESH_QUERIES]
    stride = IncrementalIndexer.GEN_STRIDE

    def doc_state(done: int):
        """(doc_ids, offsets, toks, live) after the first `done` commits."""
        ids, toks, live = [], [], []
        for kind, _, _, b in commits[:done]:
            for i in range(b * INGEST_BATCH_DOCS, (b + 1) * INGEST_BATCH_DOCS):
                ids.append(int(c.doc_ids[i]))
                toks.append(c.toks[c.offsets[i] : c.offsets[i + 1]])
                live.append(True)
            if kind == "upsert":
                dead = set(int(c.doc_ids[i]) for i in edited_pos)
                live = [lv and d not in dead for d, lv in zip(ids, live)]
                for j, i in enumerate(edited_pos):
                    ids.append(int(c.doc_ids[i]) + stride)
                    toks.append(np.concatenate([c.toks[c.offsets[i] : c.offsets[i + 1]], extra[j]]))
                    live.append(True)
        lens = np.array([t.size for t in toks])
        offsets = np.concatenate(([0], np.cumsum(lens)))
        return np.array(ids), offsets, np.concatenate(toks), np.array(live)

    def oracle_for(done: int, merged: bool) -> BM25Oracle:
        ids, offsets, toks, live = doc_state(done)
        if merged:  # compaction drops deleted docs physically
            keep = np.repeat(live, np.diff(offsets))
            lens = np.diff(offsets)[live]
            return BM25Oracle(ids[live], np.concatenate(([0], np.cumsum(lens))), toks[keep])
        return BM25Oracle(ids, offsets, toks, live)

    ctx.setup_done()

    commit_s, fresh_ms, compact_s, bytes_per_doc = [], [], [], []
    layer = {"merge_groups": [], "seg_before": [], "seg_after": []}
    clock = Clock()
    answers: dict = {}
    n_timed = n - INGEST_BATCH_DOCS + EDITS  # docs of commits after the first

    def fresh_queries(ix, state_key, phase):
        idx = ix.as_index()
        out = []
        with tr.span("query.segmented", op=phase, counters=ctx.trace):
            for q in fresh:
                t0 = time.perf_counter()
                out.append(wand_topk_local(idx, q["terms"], k=K))
                fresh_ms.append(clock.since(t0) * 1e3)
        return idx, out

    def check_state(idx, out, done, merged):
        key = (done, merged)
        if key not in answers:
            orc = oracle_for(done, merged)
            answers[key] = (orc.n, [orc.topk(q["terms"], K) for q in fresh])
        n_live, want = answers[key]
        got_n = _index_stats(idx)[0]  # the N the queries above scored with
        res.check(got_n == n_live, f"N {got_n} != live docs {n_live} after commit {done}")
        for q, g, w in zip(fresh, out, want):
            res.check(same_topk(g, w), f"fresh query {q['terms']} after commit {done} merged={merged}")

    def one_round(r: int) -> None:
        clock.new_round()
        base = ctx.path(f"stream-{r}")
        ix = IncrementalIndexer(ctx.spark, base, n_doc_parts=DOC_PARTS)
        for done, (kind, bid, path, _) in enumerate(commits, start=1):
            batch_df = ctx.spark.read.parquet(path)
            # the first commit opens the index (no existing docs to match
            # against) and pays the process's first compile of the ingest
            # plans: it is the round's untimed warm-up
            name = "streaming.ingest" if done > 1 else "streaming.ingest.open"
            with tr.span(name, op=f"{bid}-{r}", counters=ctx.trace):
                t0 = time.perf_counter()
                if kind == "ingest":
                    ix.ingest_batch(batch_df, bid)
                else:
                    ix.upsert_batch(batch_df, bid)
                if done > 1:
                    commit_s.append(clock.since(t0))
            idx, out = fresh_queries(ix, done, f"fresh-{bid}-{r}")
            check_state(idx, out, done, False)
        layer["seg_before"].append(len(ix.manifest()))
        if ctx.trace:
            seg_post = [f"{ix._seg_dir(e['segment_id'])}/postings" for e in ix.manifest()]
            t = pa.concat_tables(
                ds.dataset(d, format="parquet").to_table(columns=["term", "salt"])
                for d in seg_post
            )
            layer["merge_groups"].append(len(t.group_by(["term", "salt"]).aggregate([])))
        with tr.span("streaming.compact", op=f"compact-{r}", counters=ctx.trace):
            t0 = time.perf_counter()
            merged = ix.maybe_compact(max_per_tier=len(commits) - 1, tier_factor=10**6)
            compact_s.append(clock.since(t0))
        layer["seg_after"].append(len(ix.manifest()))
        seg = ix.manifest()[0]
        seg_dir = ix._seg_dir(seg["segment_id"])
        bytes_per_doc.append(_dir_bytes(seg_dir) / seg["n_docs"])
        if r == 0 and ctx.trace:
            _postings_layers(res, f"{seg_dir}/postings")
        idx, out = fresh_queries(ix, len(commits), f"fresh-merged-{r}")
        res.attempted += len(commits) * (1 + len(fresh)) + 1 + len(fresh)
        res.check(len(merged) == 1, f"maybe_compact made {len(merged)} merges, not 1")
        check_state(idx, out, len(commits), True)
        problems = ix.fsck()
        res.check(not problems, f"fsck: {problems}")
        shutil.rmtree(base, ignore_errors=True)

    res.rounds = _run_rounds(ctx, one_round)
    ingest_docs_per_s = res.rounds * n_timed / sum(commit_s)
    res.end_to_end = _end_to_end(
        ctx, clock, sum(fresh_ms) / 1e3, len(fresh_ms), ingest_docs_per_s,
        _median(bytes_per_doc),
    )
    res.detail = {
        "ingest_docs_per_s": (ingest_docs_per_s, "docs/s"),
        "fresh_query_p50_ms": (_median(fresh_ms), "ms"),
        "compact_docs_per_s": ((n + EDITS) / _median(compact_s), "docs/s"),
    }
    if ctx.trace:
        n_commits = len(commit_s)
        n_fresh = len(fresh_ms)
        _common_layers(
            ctx, res, writes=["streaming.ingest"], n_writes=n_commits,
            queries=["query.segmented"], n_queries=n_fresh,
            round_spans=["streaming.ingest", "query.segmented", "streaming.compact"],
        )
        res.detail.update(
            {
                "streaming.ingest.batch_s": (tr.total("streaming.ingest", "wall_s") / n_commits, "s"),
                "streaming.ingest.spark_jobs_per_batch": (
                    tr.total("streaming.ingest", "spark_jobs") / n_commits, "count"),
                "streaming.ingest.cpu_s_per_batch": (tr.total("streaming.ingest", "cpu_s") / n_commits, "s"),
                "query.segmented.spark_jobs_per_query": (
                    tr.total("query.segmented", "spark_jobs") / n_fresh, "count"),
                "streaming.segments_before_compact": (_median(layer["seg_before"]), "count"),
                "streaming.segments_after_compact": (_median(layer["seg_after"]), "count"),
                "streaming.compact.merge_groups": (_median(layer["merge_groups"]), "count"),
                "streaming.compact.spark_jobs": (tr.total("streaming.compact", "spark_jobs") / res.rounds, "count"),
                "streaming.compact.cpu_s": (tr.total("streaming.compact", "cpu_s") / res.rounds, "s"),
            }
        )
    return res


WORKLOADS = {"offline": offline, "serve": serve, "ingest": ingest}
