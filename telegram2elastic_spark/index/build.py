"""Inverted-index build: (term, docID, tf) -> compressed posting blocks.

Replaces the index build the reference delegated to Elasticsearch per-message
upserts (output/elasticsearch.py:22-33).  Spark-first shape:

  corpus --tokens()--> explode --> groupBy(term, doc_id).count()   [map-side
     partial agg, one shuffle on (term, doc_id)]
  term_dict:  groupBy(term).agg(df, cf)                            [built-in]
  doc_map:    select(doc_id, doc_len=size(tokens))                 [no shuffle]
  postings:   salted repartition-by-term -> applyInPandas per
              (term, salt) group -> numpy varbyte blocks           [custom]

Skew (north_star "heavy-hitter terms are skew-split"): the index is
document-partitioned — salt = pmod(doc_id, n_doc_parts) for every term — so a
Zipf-head term's posting list is split across all salts and no applyInPandas
group holds it whole; the query side merge-unions the per-salt partial
postings (each remains sorted, so the merge is k-way sorted).

At 10^12 docs: the only wide op is the (term, doc_id) aggregation + the
repartition by (term, salt); both are hash shuffles whose key-space is huge
(no single reducer hotspot once salted), and AQE skew handling covers the
residual.  Postings are written partitioned by term_bucket =
pmod(xxhash64(term), N_TERM_BUCKETS) so a k-term query prunes to <= k buckets.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.tokenizer import tokens
from .codec import BLOCK_SIZE, encode_blocks

POSTINGS_SCHEMA = StructType(
    [
        StructField("term", StringType()),
        StructField("salt", IntegerType()),
        StructField("block_id", IntegerType()),
        StructField("n_docs", IntegerType()),
        StructField("first_doc_id", LongType()),
        StructField("last_doc_id", LongType()),
        StructField("doc_gaps", BinaryType()),
        StructField("tf_bytes", BinaryType()),
        # per-posting doc lengths (varbyte), denormalized into the block —
        # BM25 norms travel with the postings so the query side never joins
        # or shuffles doc_map (Lucene stores norms the same way)
        StructField("dl_bytes", BinaryType()),
        # per-posting token positions (varbyte; empty unless the index was
        # built with positions=True) — enables phrase queries
        StructField("pos_bytes", BinaryType()),
        StructField("block_max_tf", IntegerType()),
    ]
)


#: token budget per vectorized pass inside the tf kernel — bounds peak
#: Python-worker memory for batches of very large documents (object-array
#: flatten is ~"tokens x avg token bytes"); slices split on row
#: boundaries so (term, doc) grouping is unaffected.
_TF_SLICE_TOKENS = 2_000_000


def _tf_kernel(with_pos: bool):
    """Factory for the narrow term-frequency kernel (see
    _tf_positions_kernel docstring); with_pos=False skips the position
    encoding and emits (term, doc_id, dl, tf) only."""

    def fn(batches):
        yield from _tf_positions_kernel(batches, with_pos=with_pos)

    return fn


def _tf_positions_kernel(batches, with_pos: bool = True):
    """mapInPandas kernel: (doc_id, toks) batches -> (term, doc_id, dl,
    tf[, pos_vb]) with positions already delta+varbyte encoded PER POSTING.

    Everything a posting needs from positions is derivable inside the
    source row (a doc's tokens never span partitions), so the encoding is
    entirely map-side — the downstream encode shuffle then moves compact
    varbyte blobs instead of raw int arrays (~2x narrower shuffle, the r4
    positional-build cost finding).  Vectorized across the whole Arrow
    batch: one factorize + lexsort groups (doc, term); position deltas
    and the varbyte buffer are computed in one flat pass and split at
    exact per-posting byte offsets (the _encode_terms_batch pattern).

    Byte-contract: codec.encode_positions(varbyte(concat(delta(posting)
    for postings))) equals the concatenation of these per-posting blobs —
    varbyte is per-value — so downstream blocks are byte-identical to the
    former collect_list path (asserted by test_codec.py).

    Memory bound: the kernel flattens a batch's tokens into one array;
    an Arrow batch (maxRecordsPerBatch=10000 rows) of ~100 KB web pages
    would flatten ~10M tokens at once.  Batches are therefore sliced to
    at most _TF_SLICE_TOKENS tokens per vectorized pass (per-doc
    grouping never crosses a slice — slices split on row boundaries), so
    peak worker memory is bounded regardless of document size."""
    import numpy as np

    from .codec import varbyte_encode, varbyte_widths

    for whole in batches:
        if len(whole) == 0:
            continue
        all_dls = np.fromiter(
            (len(t) for t in whole["toks"]), dtype=np.int64, count=len(whole)
        )
        # greedy row-boundary slicing by token budget (>= 1 row per slice)
        bounds = [0]
        acc = 0
        for i, d in enumerate(all_dls):
            if acc + int(d) > _TF_SLICE_TOKENS and i > bounds[-1]:
                bounds.append(i)
                acc = 0
            acc += int(d)
        bounds.append(len(whole))
        slices = [
            (whole.iloc[s:e], all_dls[s:e])
            for s, e in zip(bounds[:-1], bounds[1:])
            if e > s
        ]
        for pdf, dls in slices:
            n_rows = len(pdf)
            toks_list = pdf["toks"]
            doc_ids = pdf["doc_id"].to_numpy(np.int64)
            total = int(dls.sum())
            if total == 0:
                continue
            flat_terms = np.concatenate(
                [np.asarray(t, dtype=object) for t in toks_list if len(t)]
            )
            doc_idx = np.repeat(np.arange(n_rows), dls)
            pos = np.concatenate(
                [np.arange(d, dtype=np.int64) for d in dls if d]
            )
            codes, uniq = pd.factorize(flat_terms, sort=False)
            order = np.lexsort((pos, codes, doc_idx))
            c = codes[order]
            di = doc_idx[order]
            new = np.empty(c.size, dtype=bool)
            new[0] = True
            new[1:] = (c[1:] != c[:-1]) | (di[1:] != di[:-1])
            starts = np.flatnonzero(new)
            ends = np.concatenate((starts[1:], [c.size]))
            out = {
                "term": uniq.take(c[starts]).astype(object),
                "doc_id": doc_ids[di[starts]],
                "dl": dls[di[starts]].astype(np.int32),
                "tf": (ends - starts).astype(np.int64),
            }
            if with_pos:
                p = pos[order].astype(np.uint64)
                gaps = p.copy()
                nst = np.flatnonzero(~new)
                gaps[nst] = p[nst] - p[nst - 1]
                flatbuf = varbyte_encode(gaps)
                offs = np.zeros(gaps.size + 1, dtype=np.int64)
                np.cumsum(varbyte_widths(gaps), out=offs[1:])
                out["pos_vb"] = pd.Series(
                    [flatbuf[offs[s] : offs[e]] for s, e in zip(starts, ends)],
                    dtype=object,
                )
            yield pd.DataFrame(out)


def term_frequencies(corpus: DataFrame, positions: bool = False) -> DataFrame:
    """(term, doc_id, dl, tf[, pos_vb]) — ZERO shuffles (narrow map).

    A (term, doc) group's inputs all live inside the doc's source row, so
    the aggregation needs no exchange at any scale: the vectorized
    mapInPandas kernel (one factorize + lexsort per Arrow batch) computes
    tf, dl and — with positions=True — each posting's delta+varbyte
    encoded positions (`pos_vb`) map-side.  The only shuffle in the whole
    build is the downstream encode repartition by (salt, enc_key), and
    with positions it now moves compact bytes, never raw position ints
    (VERDICT r4 perf #1; replacing the r4 explode+groupBy also cut the
    base build — the former map-side combine still shuffled every (term,
    doc, tf) row).  Tokenization stays the native `tokens()` Column —
    oracle byte-identity is untouched; the kernel only counts."""
    schema = "term string, doc_id long, dl int, tf long" + (
        ", pos_vb binary" if positions else ""
    )
    return corpus.select("doc_id", tokens("text").alias("toks")).mapInPandas(
        _tf_kernel(positions), schema
    )


def doc_map(corpus: DataFrame) -> DataFrame:
    """(doc_id, url, lang, warc_ts, doc_len) — narrow, no shuffle.

    Computed from the corpus, not from exploded postings, so zero-token
    documents still count toward N and avgdl (BM25 norm correctness).
    """
    return corpus.select(
        "doc_id",
        "url",
        "lang",
        "warc_ts",
        F.size(tokens("text")).cast("int").alias("doc_len"),
    )


def term_dict(tf_df: DataFrame) -> DataFrame:
    """(term, df, cf): document frequency + collection frequency.

    (term, doc_id) is unique post-agg, so df == count(*) — cheaper than
    countDistinct (no second shuffle / no distinct expand).
    """
    return tf_df.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf")
    )


_EMPTY_POSTINGS = pd.DataFrame(
    {
        "term": pd.Series([], dtype=object),
        "salt": pd.Series([], dtype="int32"),
        "block_id": pd.Series([], dtype="int32"),
        "n_docs": pd.Series([], dtype="int32"),
        "first_doc_id": pd.Series([], dtype="int64"),
        "last_doc_id": pd.Series([], dtype="int64"),
        "doc_gaps": pd.Series([], dtype=object),
        "tf_bytes": pd.Series([], dtype=object),
        "dl_bytes": pd.Series([], dtype=object),
        "pos_bytes": pd.Series([], dtype=object),
        "block_max_tf": pd.Series([], dtype="int32"),
    }
)


def _encode_terms_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """applyInPandas kernel: one (salt, enc_key) group holding MANY terms
    -> posting block rows for all of them in one vectorized pass.

    The r2 kernel ran per (term, salt) group — pandas group dispatch plus
    a Python list-of-dicts per block dominated postings_encode_write (the
    single biggest build stage).  This kernel amortizes that: one
    factorize + lexsort orders the whole batch by (term, doc_id); block
    boundaries, delta gaps, block-max and skip pointers are computed with
    numpy over the batch; the varbyte buffers for gaps/tf/dl are encoded
    in ONE flat pass each and split at exact per-block byte offsets
    (codec.varbyte_widths).  Output assembly is numpy column arrays — no
    per-block dict allocation.  Byte-identical blocks to the per-term
    encoder (asserted by tests/test_codec.py::test_batch_encoder_identity).
    """
    if pdf.empty:
        return _EMPTY_POSTINGS.copy()
    from .codec import varbyte_encode, varbyte_widths

    salt = int(pdf["salt"].iloc[0])
    has_pos = "positions" in pdf.columns
    codes, uniq = pd.factorize(pdf["term"], sort=False)
    doc_ids = pdf["doc_id"].to_numpy(np.int64)
    order = np.lexsort((doc_ids, codes))
    codes = codes[order]
    ids = doc_ids[order].astype(np.uint64)
    tfs = pdf["tf"].to_numpy(np.int64)[order].astype(np.uint64)
    dls = pdf["dl"].to_numpy(np.int64)[order].astype(np.uint64)
    n = ids.size

    idx = np.arange(n, dtype=np.int64)
    new_term = np.empty(n, dtype=bool)
    new_term[0] = True
    np.not_equal(codes[1:], codes[:-1], out=new_term[1:])
    run_start = np.maximum.accumulate(np.where(new_term, idx, 0))
    r = idx - run_start  # within-term position
    is_start = new_term | (r % BLOCK_SIZE == 0)
    starts = np.flatnonzero(is_start)
    n_blocks = starts.size
    ends = np.concatenate((starts[1:], [n]))

    # per-block ids within each term run (block_id resets per term)
    bidx = np.arange(n_blocks, dtype=np.int64)
    b_new_term = new_term[starts]
    b_run_start = np.maximum.accumulate(np.where(b_new_term, bidx, 0))
    block_id = (bidx - b_run_start).astype(np.int32)

    # delta gaps with reset at block starts (first value absolute)
    gaps = ids.copy()
    notst = np.flatnonzero(~is_start)
    gaps[notst] = ids[notst] - ids[notst - 1]

    def _bufs(vals: np.ndarray) -> list[bytes]:
        flat = varbyte_encode(vals)
        offs = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(varbyte_widths(vals), out=offs[1:])
        return [flat[offs[s] : offs[e]] for s, e in zip(starts, ends)]

    out = pd.DataFrame(
        {
            "term": uniq.take(codes[starts]).astype(object),
            "salt": np.full(n_blocks, salt, dtype=np.int32),
            "block_id": block_id,
            "n_docs": (ends - starts).astype(np.int32),
            "first_doc_id": ids[starts].astype(np.int64),
            "last_doc_id": ids[ends - 1].astype(np.int64),
            "doc_gaps": pd.Series(_bufs(gaps), dtype=object),
            "tf_bytes": pd.Series(_bufs(tfs), dtype=object),
            "dl_bytes": pd.Series(_bufs(dls), dtype=object),
            "pos_bytes": pd.Series([b""] * n_blocks, dtype=object),
            "block_max_tf": np.maximum.reduceat(tfs, starts).astype(np.int32),
        }
    )
    if has_pos:
        from .codec import encode_positions

        pos = pdf["positions"].to_numpy(object)[order]
        out["pos_bytes"] = pd.Series(
            [encode_positions(pos[s:e]) for s, e in zip(starts, ends)],
            dtype=object,
        )
    elif "pos_vb" in pdf.columns:
        # positions arrived already delta+varbyte encoded per posting
        # (map-side, term_frequencies): a block's pos_bytes is the plain
        # concatenation — byte-identical to encode_positions on the raw
        # arrays because varbyte is per-value.
        vb = pdf["pos_vb"].to_numpy(object)[order]
        out["pos_bytes"] = pd.Series(
            [b"".join(map(bytes, vb[s:e])) for s, e in zip(starts, ends)],
            dtype=object,
        )
    return out


DEFAULT_DOC_PARTS = 32

# Sub-splits within a salt for the encode shuffle: groups stay bounded
# (≈ |batch| / (n_doc_parts × ENCODE_SUBGROUPS)) no matter how large the
# corpus grows, while each group still amortizes kernel overhead over many
# terms.  Purely a parallelism/batching knob — blocks are per-term, so the
# output bytes are identical for any value.
ENCODE_SUBGROUPS = 64


def build_postings(tf_df: DataFrame, n_doc_parts: int = DEFAULT_DOC_PARTS) -> DataFrame:
    """Sorted, delta-encoded, varbyte posting blocks per (term, salt).

    The index is **document-partitioned**: salt = pmod(doc_id, n_doc_parts)
    for every term.  One mechanism buys three properties at once:
      * skew-split heavy hitters (north_star): a "the"-like term's postings
        are spread over n_doc_parts groups, each <= df/P — no single
        applyInPandas group ever holds a whole Zipf-head posting list;
      * partition-parallel query execution: every doc lives in exactly one
        salt, so per-salt WAND top-k is complete and the global answer is a
        k-way merge of P local top-ks (partial-posting merge);
      * deterministic layout — salt is a pure function of doc_id.
    On a 1000-executor cluster n_doc_parts scales to O(#cores); it only
    changes parallelism, never results.
    """
    # tf_df already carries dl (term_frequencies computes it pre-explode),
    # so norms are denormalized into the blocks with zero extra shuffles.
    salted = tf_df.withColumn(
        "salt", F.pmod(F.col("doc_id"), F.lit(n_doc_parts)).cast("int")
    ).withColumn(
        "enc_key",
        F.pmod(F.xxhash64("term"), F.lit(ENCODE_SUBGROUPS)).cast("int"),
    )
    # grouping by (salt, term-hash subgroup) instead of (term, salt) hands
    # the kernel MANY terms per Arrow batch — same shuffle volume, far
    # fewer group dispatches (see _encode_terms_batch)
    return (
        salted.groupBy("salt", "enc_key")
        .applyInPandas(_encode_terms_batch, POSTINGS_SCHEMA)
    )


def build_index(
    corpus: DataFrame,
    n_doc_parts: int = DEFAULT_DOC_PARTS,
    positions: bool = False,
) -> dict:
    """Full in-memory build -> {'doc_map', 'term_dict', 'postings', 'stats'}.

    tf_df and doc_map fan out to multiple downstream tables (term_dict +
    postings; stats + persisted doc_map), so they are persisted
    MEMORY_AND_DISK — without this, write_index re-runs the tokenize +
    (term, doc_id) aggregation once per output table (measured 2x build
    cost at bench scale).  Persistence is lazy: a query that only touches
    one output pays nothing extra.
    """
    from pyspark import StorageLevel

    dm = doc_map(corpus).persist(StorageLevel.MEMORY_AND_DISK)
    tf_df = term_frequencies(corpus, positions=positions).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # term_dict is persisted too: write_index emits it twice (hash-bucketed
    # + sorted layouts), and without the persist each write re-runs the
    # groupBy over tf_df (one whole extra shuffle).  Vocab-sized, so the
    # cache is tiny; lazy, so query-only consumers pay nothing.
    td = term_dict(tf_df).persist(StorageLevel.MEMORY_AND_DISK)
    postings = build_postings(tf_df, n_doc_parts=n_doc_parts)
    stats = dm.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("doc_len").alias("avgdl"),
        F.sum("doc_len").alias("total_tokens"),
    )
    return {
        "doc_map": dm,
        "term_dict": td,
        "postings": postings,
        "stats": stats,
        "_n_doc_parts": n_doc_parts,
        "_positions": bool(positions),
        "_cached": [dm, tf_df, td],
        # named ref for consumers that need to materialize ONLY the
        # multiply-consumed frame (streaming _write_segment: tf feeds
        # term_dict + postings, while dm/td have single consumers there)
        "_tf": tf_df,
    }


N_TERM_BUCKETS = 64


def write_index(
    index: dict,
    out_dir: str,
    timings: dict | None = None,
) -> None:
    """Persist index tables as parquet; postings partitioned by term_bucket
    (pmod(xxhash64(term), N_TERM_BUCKETS)) so query-time scans prune to the
    buckets of the query's terms — the analogue of the reference's per-day
    ES index routing (output/elasticsearch.py:10,33), keyed by term instead
    of time because queries arrive by term.

    `timings`: optional dict collecting per-table write wall seconds
    (bench per-stage breakdown).

    The five output tables are INDEPENDENT jobs over the persisted build
    frames, so they are submitted concurrently from a small thread pool
    (optimization guide §2.6: Spark's FIFO scheduler back-fills the tail
    of each job with the next one's tasks, so the straggler tail of the
    big postings write no longer serializes behind four small writes).
    Because the writes overlap, each `timings` entry is the table's own
    wall scaled so that sum(timings.values()) equals the true end-to-end
    wall of this function — the per-stage proportions stay informative
    and the sum stays an honest wall-clock measurement.
    """
    import time as _time
    from concurrent.futures import ThreadPoolExecutor

    t_all = _time.perf_counter()
    spark = index["doc_map"].sparkSession

    # Materialize each shared persisted frame ONCE, *inside* the fan-out
    # (r6): two concurrent writes that both hit a persisted-but-
    # unmaterialized frame would each compute its partitions (the cache
    # dedups storage, not in-flight work), so every write below waits on
    # the materialization future of exactly the frame it consumes —
    # doc_map/stats on dm, term_dict/term_dict_sorted on td (which itself
    # waits on tf), postings on tf.  dm and tf have no mutual dependency
    # and materialize concurrently, so the old sequential count() stall
    # (~0.5 s at bench scale) overlaps the write fan-out instead of
    # preceding it.  A frame already materialized costs one fast cached
    # scan.  When the caller's index dict carries no _tf/_cached refs
    # (foreign dict), fall back to the sequential counts.

    def _w_doc_map():
        index["doc_map"].write.mode("overwrite").parquet(f"{out_dir}/doc_map")

    # Both partitionBy writes first repartition on the partition column:
    # without it every upstream task writes a file into every bucket dir
    # it touches (~tasks x buckets small files — measured 439 files and
    # +0.9 s on postings at bench scale); aligned, each bucket is written
    # by exactly one task (guide §6 small-files).  Write parallelism is
    # then N_TERM_BUCKETS: a fixed layout constant, because every query
    # route prunes with the same constant (query/wand.py _term_buckets)
    # and a different count would silently drop terms.
    def _w_term_dict():
        (
            index["term_dict"]
            .withColumn(
                "term_bucket", F.pmod(F.xxhash64("term"), F.lit(N_TERM_BUCKETS))
            )
            .repartition(N_TERM_BUCKETS, "term_bucket")
            .write.mode("overwrite")
            .partitionBy("term_bucket")
            .parquet(f"{out_dir}/term_dict")
        )

    # Secondary term-dictionary layout for multi-term rewrites (prefix /
    # wildcard, query/expand.py): the hash-bucketed layout cannot prune a
    # prefix scan (xxhash64 destroys term order), so the same table is also
    # written range-partitioned and sorted by term — parquet row-group
    # min/max statistics on the sorted column then skip everything outside
    # the prefix's range once StringStartsWith is pushed down (the
    # FST-walk analogue; vocab-sized, so the extra write is cheap).
    def _w_term_dict_sorted():
        (
            index["term_dict"]
            .repartitionByRange(8, "term")
            .sortWithinPartitions("term")
            .write.mode("overwrite")
            .parquet(f"{out_dir}/term_dict_sorted")
        )

    def _w_postings():
        (
            index["postings"]
            .withColumn(
                "term_bucket", F.pmod(F.xxhash64("term"), F.lit(N_TERM_BUCKETS))
            )
            .repartition(N_TERM_BUCKETS, "term_bucket")
            .write.mode("overwrite")
            .partitionBy("term_bucket")
            .parquet(f"{out_dir}/postings")
        )

    def _w_stats():
        index["stats"].write.mode("overwrite").parquet(f"{out_dir}/stats")

    cached = list(index.get("_cached", []))

    def _is_cached(df):
        return df is not None and any(c is df for c in cached)

    # `_mat` lets an index dict name the frame whose count() fills the
    # cache each consumer group reads (build_field_indexes: doc_map is a
    # projection of a SHARED cached frame, so identity checks against
    # _cached would miss it and the concurrent doc_map/stats writes
    # would compute that frame twice)
    mat = index.get("_mat") or {}
    tf_df = mat.get("tf", index.get("_tf"))
    dm_df = mat.get(
        "dm",
        index.get("doc_map") if _is_cached(index.get("doc_map")) else None,
    )
    td_df = mat.get(
        "td",
        index.get("term_dict") if _is_cached(index.get("term_dict")) else None,
    )
    foreign = tf_df is None and not cached

    walls: dict[str, float] = {}

    def _run(name, fn, dep=None):
        if dep is not None:
            dep.result()
        t0 = _time.perf_counter()
        spark.sparkContext.setJobDescription(f"write_index: {name}")
        fn()
        walls[name] = _time.perf_counter() - t0

    if foreign:
        # no knowledge of shared frames: materialize nothing, write
        # concurrently (previous behavior for caller-assembled dicts)
        jobs = [
            ("postings_encode_write", _w_postings, None),
            ("term_dict_write", _w_term_dict, None),
            ("term_dict_sorted_write", _w_term_dict_sorted, None),
            ("doc_map_write", _w_doc_map, None),
            ("stats_write", _w_stats, None),
        ]
        with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
            futures = [pool.submit(_run, n, f, d) for n, f, d in jobs]
            for fut in futures:
                fut.result()
    else:
        with ThreadPoolExecutor(max_workers=8) as pool:
            spark.sparkContext.setJobDescription("write_index: materialize dm")
            f_dm = pool.submit(lambda: dm_df.count() if dm_df is not None else None)
            spark.sparkContext.setJobDescription("write_index: materialize tf")
            f_tf = pool.submit(lambda: tf_df.count() if tf_df is not None else None)

            def _mat_td():
                f_tf.result()
                if td_df is not None:
                    td_df.count()

            f_td = pool.submit(_mat_td)
            # longest chain first so its tail overlaps everything else
            jobs = [
                ("postings_encode_write", _w_postings, f_tf),
                ("term_dict_write", _w_term_dict, f_td),
                ("term_dict_sorted_write", _w_term_dict_sorted, f_td),
                ("doc_map_write", _w_doc_map, f_dm),
                ("stats_write", _w_stats, f_dm),
            ]
            futures = [pool.submit(_run, n, f, d) for n, f, d in jobs]
            for fut in futures:
                fut.result()
    if timings is not None:
        total = _time.perf_counter() - t_all
        scale = total / (sum(walls.values()) or 1.0)
        for name, w in walls.items():
            timings[name] = w * scale
    import json as _json
    import os as _os

    with open(_os.path.join(out_dir, "meta.json"), "w") as f:
        _json.dump(
            {
                "n_doc_parts": index.get("_n_doc_parts", DEFAULT_DOC_PARTS),
                "positions": bool(index.get("_positions", False)),
            },
            f
        )
    for df in index.get("_cached", []):
        df.unpersist()


DOC_STORE_COLS = ["doc_id", "url", "lang", "warc_ts", "text"]


def write_doc_store(corpus, out_dir: str, n_files: int = 32) -> None:
    """Stored-fields companion to the index: the ES `_source` store.

    (doc_id, url, lang, warc_ts, text) range-partitioned and sorted by
    doc_id, written with small parquet row groups — a driver-local point
    read (query/docstore.py) then prunes to the row groups holding the
    requested ids via min/max statistics on the sorted column, the same
    layout trick as the sorted trigram GIN buckets (query/fuzzy.py).
    Serves mlt source text, highlight snippets and rescore timestamps at
    millisecond latency without a Spark job; the reference keeps the
    analogous copy in ES `_source` (output/elasticsearch.py doc body).
    """
    (
        corpus.select(*DOC_STORE_COLS)
        .repartitionByRange(n_files, "doc_id")
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        # small row groups are the point-read unit: a GET decompresses
        # O(rows-per-group) documents, so ~128 KiB groups (~a few hundred
        # docs) keep the per-GET cost tens of ms while stats pruning on
        # the sorted doc_id column skips every other group
        .option("parquet.block.size", 128 << 10)
        .parquet(f"{out_dir}/doc_store")
    )


def read_index(spark, out_dir: str) -> dict:
    import json as _json
    import os as _os

    postings = spark.read.parquet(f"{out_dir}/postings")
    meta_path = _os.path.join(out_dir, "meta.json")
    has_positions = False
    if _os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = _json.load(f)
        n_parts = int(meta.get("n_doc_parts", DEFAULT_DOC_PARTS))
        has_positions = bool(meta.get("positions", False))
    else:
        # An index written before meta.json existed: DERIVE the salt
        # modulus from the postings rather than assuming the default —
        # a wrong n_doc_parts would salt query-time doc filters and
        # tombstones with the wrong modulus and return silently wrong
        # (empty-filter) results.
        n_parts = int(
            postings.agg(F.max("salt")).first()[0]
        ) + 1
    out = {
        "doc_map": spark.read.parquet(f"{out_dir}/doc_map"),
        "term_dict": spark.read.parquet(f"{out_dir}/term_dict"),
        "postings": postings,
        "stats": spark.read.parquet(f"{out_dir}/stats"),
        "_n_doc_parts": n_parts,
        "_positions": has_positions,
    }
    # sorted layout for prefix/wildcard expansion (absent in pre-round-3
    # indexes; expand.py falls back to the hash-bucketed table).  Probed
    # via the reader, not os.path — the index URI may be s3://, hdfs://,
    # or any other non-local filesystem Spark can read.
    try:
        out["term_dict_sorted"] = spark.read.parquet(
            f"{out_dir}/term_dict_sorted"
        )
    except Exception:
        pass
    # Stored-fields store (write_doc_store) for driver-local doc point
    # reads; optional — indexes built without it fall back to Spark
    # doc-store fetches in query/local.py.
    try:
        out["doc_store"] = spark.read.parquet(f"{out_dir}/doc_store")
        out["_doc_store_dir"] = f"{out_dir}/doc_store"
    except Exception:
        pass
    out["_dir"] = out_dir
    # driver-local reads (query/wand.py _arrow_read): valid only while
    # the corresponding table mirrors its directory — consumers that swap
    # a frame (maintenance.resize_index for postings) must drop the
    # matching seam
    out["_postings_dir"] = f"{out_dir}/postings"
    out["_term_dict_dir"] = f"{out_dir}/term_dict"
    out["_stats_dir"] = f"{out_dir}/stats"
    out["_doc_map_dir"] = f"{out_dir}/doc_map"
    return out
