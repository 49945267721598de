"""Capture .explain('formatted') for the round-6 touched query paths.

Usage: python jobs/capture_plans.py <out_dir> <suffix>
e.g.   python jobs/capture_plans.py plans/r06 after

Version-agnostic: run it from the round-start tree for the *_before.txt
files and from the optimized tree for *_after.txt.  Plan SHAPE is what is
captured (Exchange count, join strategy, pushed filters), which is
scale-independent, so it runs at sf0.01.
"""
from __future__ import annotations

import inspect
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def fmt(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main():
    out_dir, suffix = sys.argv[1], sys.argv[2]
    os.makedirs(out_dir, exist_ok=True)

    from pyspark.sql import functions as F

    from telegram2elastic_spark.corpus import (
        as_corpus,
        expand_corpus,
        load_documents,
        load_events,
    )
    from telegram2elastic_spark.index import build as B
    from telegram2elastic_spark.operators import aggregates as agg
    from telegram2elastic_spark.query import bm25, search
    from telegram2elastic_spark.query.wand import wand_topk, wand_topk_batch
    from telegram2elastic_spark.session import get_spark

    spark = get_spark("capture-plans", master="local[8]")
    wd = tempfile.mkdtemp(prefix="plans_")
    docs = expand_corpus(load_documents(spark, SF_DIR), 2)
    as_corpus(docs).repartition(8, "doc_id").write.mode("overwrite").parquet(
        f"{wd}/c"
    )
    corpus = spark.read.parquet(f"{wd}/c")
    events = load_events(spark, SF_DIR)
    idx = B.build_index(corpus, n_doc_parts=8)
    B.write_index(idx, f"{wd}/i")
    idx = B.read_index(spark, f"{wd}/i")

    def dump(name, df):
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(fmt(df))
        print("captured", name, flush=True)

    dump("bm25_topk", bm25.bm25_topk(corpus, ["spark", "merge"], k=10))
    dump(
        "wand_topk_batch",
        wand_topk_batch(
            idx, {0: ["spark", "merge"], 1: ["the", "data"]}, k=10
        ),
    )
    dump("wand_topk", wand_topk(idx, ["spark", "merge"], k=10))
    dump("timeline_daily", agg.timeline_daily(corpus))
    dump("events_rollup", agg.events_rollup(events))
    dump("top_users_per_type", agg.top_users_per_type(events))
    dump("archive_counters", agg.archive_counters(corpus))
    dump(
        "search_page",
        search.search_page(corpus, q="merge", min_score=10.0, offset=5, limit=10),
    )
    dump("search_count", search.search_count(corpus, q="merge", min_score=10.0))

    # the postings-write input plan, mirroring write_index's own pipeline
    # for whichever tree this script runs in
    post = idx["postings"].withColumn(
        "term_bucket", F.pmod(F.xxhash64("term"), F.lit(B.N_TERM_BUCKETS))
    )
    repartitioned = "repartition(N_TERM_BUCKETS" in inspect.getsource(
        B.write_index
    )
    if repartitioned:
        post = post.repartition(B.N_TERM_BUCKETS, "term_bucket")
    dump("postings_write_input", post)

    td = idx["term_dict"].withColumn(
        "term_bucket", F.pmod(F.xxhash64("term"), F.lit(B.N_TERM_BUCKETS))
    )
    if repartitioned:
        td = td.repartition(B.N_TERM_BUCKETS, "term_bucket")
    dump("term_dict_write_input", td)

    spark.stop()


if __name__ == "__main__":
    main()
