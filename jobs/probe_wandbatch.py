"""Round-6 pass-3 probe: wand_topk_batch cold cost with the driver-local
idf/stats fetch (wand._arrow_read, then _pyarrow_term_dict / _index_stats)
vs the Spark crossJoin collect.  Interleaved best-of-3, result identity asserted.
NOT part of the driver bench contract.
"""
from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
EXPAND = int(os.environ.get("SPARK_GRAFT_EXPAND", "40"))
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

BENCH_QUERIES = [
    ["spark", "merge"], ["the"], ["vector", "window", "batch"],
    ["the", "data", "row"], ["join", "filter"], ["dup"],
    ["table", "scan", "query"], ["zzzznotaterm"],
]


def main():
    import pandas as pd

    from telegram2elastic_spark.corpus import as_corpus, expand_corpus, load_documents
    from telegram2elastic_spark.index.build import build_index, read_index, write_index
    from telegram2elastic_spark.query.wand import wand_topk_batch
    from telegram2elastic_spark.session import get_spark

    spark = get_spark("probe-wandbatch", master=f"local[{CPUS}]")
    wd = tempfile.mkdtemp(prefix="probe_wb_")
    docs = expand_corpus(load_documents(spark, SF_DIR), EXPAND)
    as_corpus(docs).repartition(64, "doc_id").write.mode("overwrite").parquet(
        f"{wd}/corpus"
    )
    corpus = spark.read.parquet(f"{wd}/corpus")
    corpus.count()
    corpus.select("doc_id", "lang").limit(2000).groupBy("lang").applyInPandas(
        lambda p: pd.DataFrame({"n": [len(p)]}), "n long"
    ).collect()
    idx_dir = f"{wd}/index"
    write_index(build_index(corpus, n_doc_parts=CPUS), idx_dir)
    queries = dict(enumerate(BENCH_QUERIES))

    def fresh(spark_route: bool):
        idx = read_index(spark, idx_dir)
        if spark_route:
            for k in ("_term_dict_dir", "_stats_dir", "_postings_dir", "_doc_map_dir"):
                idx.pop(k, None)
        for name in ("doc_map", "term_dict", "postings", "stats"):
            idx[name] = idx[name].cache()
            idx[name].count()
        return idx

    # one throwaway pass to warm python workers / JIT
    wand_topk_batch(fresh(True), queries, k=10).collect()

    res = {}
    for trial in range(3):
        for label, sp_route in (("spark_idfs", True), ("pyarrow_idfs", False)):
            idx = fresh(sp_route)
            t0 = time.perf_counter()
            out = wand_topk_batch(idx, queries, k=10).collect()
            w = time.perf_counter() - t0
            res.setdefault(label, []).append(w)
            print(f"{label} trial{trial}: {w:.3f}s", flush=True)
            rows = [
                (r["query_id"], r["doc_id"], r["url"], r["score"]) for r in out
            ]
            res.setdefault(label + "_rows", rows)
    assert res["spark_idfs_rows"] == res["pyarrow_idfs_rows"]
    print("identity: OK;",
          {k: round(min(v), 3) for k, v in res.items() if isinstance(v[0], float)})
    spark.stop()


if __name__ == "__main__":
    main()
