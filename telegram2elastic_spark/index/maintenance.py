"""Index maintenance APIs: ES `_delete_by_query`, `_update_by_query`,
and the `_stats` / `_cat/indices` read-out.

Lucene semantics throughout: a delete is a TOMBSTONE (live-docs bit), not
a postings rewrite — matching docs stop being served immediately, while
N / avgdl / df stay frozen until a segment merge rebuilds the postings
(streaming/ingest.py compaction), exactly ES's "deleted docs still count
toward index statistics" behavior and the engine's global-stats filter
contract (query/wand.py).

`update_by_query` covers the doc-values case: updating STORED fields
(lang, url, ...) rewrites doc_map rows only — postings are untouched
because the indexed text did not change.  (A text update WOULD be
delete + reindex; that path is the incremental indexer's upsert,
streaming/ingest.py edited-doc handling.)

Scale shape: both ops are one narrow filter/projection over doc_map —
the predicate pushes to the scan; nothing is collected; the returned
index shares every unmodified table with the input (copy-on-write dict).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def delete_by_query(index: dict, predicate: str) -> dict:
    """ES _delete_by_query: tombstone every doc matching `predicate`
    (SQL over doc_map columns).  Returns a new index dict; the input is
    untouched.  Tombstones reach the query kernels per-salt via cogroup
    (query/wand.py _filters_df) — never a driver collect."""
    new_tomb = index["doc_map"].filter(predicate).select("doc_id")
    out = dict(index)
    prev = index.get("_tombstones_df")
    if prev is None and index.get("_tombstones"):
        from ..query.wand import _tomb_df

        prev = _tomb_df(index)
    out["_tombstones_df"] = (
        new_tomb if prev is None else prev.unionByName(new_tomb).distinct()
    )
    # invalidate local-path caches derived from the old tombstone set
    out.pop("_tomb_arr", None)
    out.pop("_tombstones", None)
    return out


def update_by_query(
    index: dict, predicate: str, set_exprs: dict[str, str]
) -> dict:
    """ES _update_by_query for stored (non-indexed) fields: rows matching
    `predicate` get each column in `set_exprs` replaced by its SQL
    expression; all other rows and all postings are unchanged."""
    dm = index["doc_map"]
    cols = []
    for c in dm.columns:
        if c in set_exprs:
            cols.append(
                F.when(F.expr(predicate), F.expr(set_exprs[c]))
                .otherwise(F.col(c))
                .alias(c)
            )
        else:
            cols.append(F.col(c))
    out = dict(index)
    out["doc_map"] = dm.select(*cols)
    # the updated view's doc_map no longer mirrors the written directory —
    # drop the driver-local url-fill seam (query/wand.py _arrow_read)
    for k in ("_doc_map_dir", "_dm_ds"):
        out.pop(k, None)
    return out


def index_stats(index: dict) -> DataFrame:
    """ES `_stats` read-out: docs.count, live docs (count minus
    tombstones), distinct terms, total term occurrences, avgdl.  One
    term_dict aggregate + the 1-row stats table + a tombstone count —
    no corpus scan, no postings decode."""
    spark = index["doc_map"].sparkSession
    from ..query.wand import _tomb_df

    tomb = _tomb_df(index)
    n_tomb = tomb.count() if tomb is not None else 0
    td = index["term_dict"].agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("cf").cast("long").alias("total_tf"),
    )
    st = index["stats"].select(
        F.col("n_docs").cast("long").alias("n_docs"),
        F.round("avgdl", 6).alias("avgdl"),
    )
    return (
        st.crossJoin(F.broadcast(td))
        .withColumn("n_deleted", F.lit(int(n_tomb)).cast("long"))
        .withColumn("n_live", F.col("n_docs") - F.col("n_deleted"))
        .select("n_docs", "n_live", "n_deleted", "n_terms", "total_tf", "avgdl")
    )


def index_stats_sql(n_deleted: int = 0) -> str:
    from ..corpus import CORPUS_CTE
    from ..functions.tokenizer import TOKEN_SPLIT_RE

    return f"""
WITH {CORPUS_CTE.strip()},
toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text),
             '{TOKEN_SPLIT_RE}'), t -> t <> '')) AS term
  FROM corpus
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
td AS (SELECT count(DISTINCT term) AS n_terms,
              CAST(sum(tf) AS BIGINT) AS total_tf FROM tf),
dl AS (
  SELECT c.doc_id,
         len(list_filter(regexp_split_to_array(lower(c.text),
             '{TOKEN_SPLIT_RE}'), t -> t <> '')) AS doc_len
  FROM corpus c
),
st AS (SELECT count(*) AS n_docs, round(avg(doc_len), 6) AS avgdl FROM dl)
SELECT st.n_docs, st.n_docs - {int(n_deleted)} AS n_live,
       CAST({int(n_deleted)} AS BIGINT) AS n_deleted,
       td.n_terms, td.total_tf, st.avgdl
FROM st CROSS JOIN td
"""


def resize_index(index: dict, target_parts: int) -> dict:
    """ES `_shrink` / `_split` for the salt layout: change the number of
    document partitions without re-tokenizing the corpus.

    **Shrink** (target divides current): because salt = doc_id mod P and
    P' | P implies (doc_id mod P) mod P' = doc_id mod P', an entire old
    salt group maps to ONE new salt — the resize is a pure METADATA
    relabel (`salt % P'`).  No decode, no re-encode, no data movement
    beyond the relabeled shuffle key: posting block bytes are reused
    verbatim, exactly like ES _shrink hard-linking segment files into
    the target index.  Blocks from different old salts interleave in doc
    range within the new salt; every query kernel already handles that
    (the multi-segment contract — blocks are self-contained, first gap
    absolute, decode re-sorts globally).  This is why ES requires the
    target shard count to be a FACTOR of the source: the routing
    congruence only collapses cleanly then.

    **Split** (current divides target): an old salt fans out into
    P'/P new salts, so blocks must be rewritten — decode each block
    (mapInPandas, embarrassingly parallel, no shuffle), re-salt the
    exploded postings, and re-encode through the verified build kernel
    (byte-identical to a fresh build at P' by construction, since the
    encoder is deterministic per (term, salt) posting set).  One
    shuffle, the same volume as the original postings encode — the ES
    _split segment-rewrite cost.

    Other combinations raise, mirroring the ES factor requirement."""
    import numpy as np
    import pandas as pd

    from .build import build_postings

    cur = int(index["_n_doc_parts"])
    tgt = int(target_parts)
    out = dict(index)
    if tgt == cur:
        return out
    # the resized view's postings frame no longer mirrors the written
    # directory (split re-encodes blocks; shrink relabels salts) — drop
    # the driver-local read seam and the per-handle posting caches so
    # local-path queries re-fetch through Spark
    for k in ("_postings_dir", "_post_ds", "_local_post_cache",
              "_local_decoded", "_local_decoded_n"):
        out.pop(k, None)
    if cur % tgt == 0:
        out["postings"] = index["postings"].withColumn(
            "salt", F.pmod(F.col("salt"), F.lit(tgt)).cast("int")
        )
        out["_n_doc_parts"] = tgt
        return out
    if tgt % cur != 0:
        raise ValueError(
            f"target_parts {tgt} must be a factor or multiple of {cur} "
            "(the ES _shrink/_split factor requirement)"
        )
    has_pos_row = index["postings"].select("pos_bytes").first()
    has_pos = has_pos_row is not None and has_pos_row["pos_bytes"] is not None

    def decode_rows(batches):
        from .codec import decode_positions, varbyte_decode

        for pdf in batches:
            outs = []
            for r in pdf.itertuples(index=False):
                gaps = varbyte_decode(bytes(r.doc_gaps))
                ids = np.cumsum(gaps.astype(np.int64))
                tfs = varbyte_decode(bytes(r.tf_bytes)).astype(np.int64)
                dls = varbyte_decode(bytes(r.dl_bytes)).astype(np.int64)
                row = {
                    "term": np.repeat(r.term, ids.size),
                    "doc_id": ids,
                    "dl": dls,
                    "tf": tfs,
                }
                if has_pos:
                    row["positions"] = [
                        a.astype(np.int32)
                        for a in decode_positions(bytes(r.pos_bytes), tfs)
                    ]
                outs.append(pd.DataFrame(row))
            if outs:
                yield pd.concat(outs, ignore_index=True)

    schema = "term string, doc_id long, dl long, tf long" + (
        ", positions array<int>" if has_pos else ""
    )
    rows = index["postings"].mapInPandas(decode_rows, schema)
    out["postings"] = build_postings(rows, n_doc_parts=tgt)
    out["_n_doc_parts"] = tgt
    return out


def reindex(
    index: dict,
    doc_store: str | None = None,
    predicate: str | None = None,
    set_exprs: dict[str, str] | None = None,
    n_doc_parts: int | None = None,
    positions: bool = False,
) -> dict:
    """ES `_reindex`: build a NEW index from the source index's `_source`
    store, with the optional `query` filter (`predicate`, SQL over the
    stored fields) and `script` transform (`set_exprs`, column -> SQL
    expression — rewriting `text` re-analyzes, exactly like an ES
    reindex through a changed mapping/script).

    Contract parity: ES reindex requires _source enabled — here the doc
    store (resolve order: explicit arg, then the store discovered by
    read_index); deleted (tombstoned) docs are skipped, like ES copying
    only live docs.  The copy is one doc-store scan feeding the verified
    build (one shuffle); nothing touches the source postings, and the
    source index is immutable throughout — the from-scratch analogue of
    ES's snapshot-isolation reindex semantics."""
    from ..index.build import build_index
    from ..query.docstore import resolve_doc_store
    from ..query.wand import _tomb_df

    spark = index["doc_map"].sparkSession
    store = resolve_doc_store(index, doc_store)
    if store is None:
        raise ValueError(
            "reindex needs the _source doc store (build with --doc-store "
            "or pass doc_store=)"
        )
    src = spark.read.parquet(store)
    tomb = _tomb_df(index)
    if tomb is not None:
        src = src.join(tomb.select("doc_id"), "doc_id", "left_anti")
    if predicate is not None:
        src = src.filter(predicate)
    if set_exprs:
        cols = []
        for c in src.columns:
            if c in set_exprs:
                cols.append(F.expr(set_exprs[c]).alias(c))
            else:
                cols.append(F.col(c))
        src = src.select(*cols)
    nparts = int(n_doc_parts or index.get("_n_doc_parts", 8))
    return build_index(src, n_doc_parts=nparts, positions=positions)


# --- ILM rollover planning (ES index lifecycle) --------------------------------

ROLLOVER_SCHEMA = (
    "gen int, start_min string, end_min string, n_buckets int, n_docs long"
)


def ilm_rollover(
    corpus: DataFrame, max_docs: int = 400, max_age_min: int = 45
) -> DataFrame:
    """ES ILM rollover simulated over the corpus timeline: the write
    alias rolls to a new index generation when the current generation
    holds `max_docs` documents or its first bucket is `max_age_min`
    minutes old — the `max_docs` / `max_age` conditions of a rollover
    action (the reference's per-day index naming taken to lifecycle
    management; buckets are minutes because the synthetic corpus spans
    hours — at web scale the same plan runs over day buckets).

    Pinned semantics (deterministic): minute buckets processed
    ascending; a bucket rolls BEFORE being added if docs_in_gen +
    bucket_docs > max_docs or bucket - gen_start >= max_age_min; a fresh
    generation always accepts its first bucket (one oversized bucket
    occupies one generation alone, like ES's post-hoc rollover check).

    Scale shape: the corpus collapses to time buckets in one map-side
    hash aggregate (axis-sized); the inherently sequential alias fold
    then runs once over that bounded relation in a single applyInPandas
    group (the timeline_pipeline bounded-axis contract).  The corpus is
    touched exactly once."""
    max_docs, max_age_min = int(max_docs), int(max_age_min)
    if max_docs < 1 or max_age_min < 1:
        raise ValueError("max_docs and max_age_min must be >= 1")
    buckets = (
        corpus.groupBy(
            F.date_format(
                F.date_trunc("minute", "warc_ts"), "yyyy-MM-dd HH:mm"
            ).alias("minute")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )

    def fold(pdf):
        import datetime as dt

        import pandas as pd

        pdf = pdf.sort_values("minute").reset_index(drop=True)
        out = []
        gen, start, end, nb, ndocs = 0, None, None, 0, 0

        def age(m0: str, m1: str) -> int:
            f = lambda s: dt.datetime.strptime(s, "%Y-%m-%d %H:%M")
            return int((f(m1) - f(m0)).total_seconds() // 60)

        for minute, n in zip(pdf["minute"], pdf["n"]):
            n = int(n)
            if (
                gen == 0
                or ndocs + n > max_docs
                or age(start, minute) >= max_age_min
            ):
                if gen > 0:
                    out.append((gen, start, end, nb, ndocs))
                gen += 1
                start, end, nb, ndocs = minute, minute, 1, n
            else:
                end, nb, ndocs = minute, nb + 1, ndocs + n
        if gen > 0:
            out.append((gen, start, end, nb, ndocs))
        return pd.DataFrame(
            out,
            columns=["gen", "start_min", "end_min", "n_buckets", "n_docs"],
        )

    return (
        buckets.groupBy(F.lit(0).alias("g"))
        .applyInPandas(lambda _, pdf: fold(pdf), ROLLOVER_SCHEMA)
        .orderBy("gen")
    )


def ilm_rollover_sql(max_docs: int = 400, max_age_min: int = 45) -> str:
    """DuckDB oracle: the identical alias fold as a RECURSIVE CTE over the
    ordered minute buckets (one step per bucket — axis-sized recursion)."""
    from ..corpus import CORPUS_CTE

    max_docs, max_age_min = int(max_docs), int(max_age_min)
    roll = (
        f"w.ndocs + s.n > {max_docs} "
        f"OR date_diff('minute', strptime(w.start_min, '%Y-%m-%d %H:%M'), "
        f"strptime(s.minute, '%Y-%m-%d %H:%M')) >= {max_age_min}"
    )
    return f"""
WITH RECURSIVE {CORPUS_CTE.strip()},
buckets AS (
  SELECT strftime(date_trunc('minute', warc_ts), '%Y-%m-%d %H:%M') AS minute,
         count(*) AS n
  FROM corpus GROUP BY 1
),
seq AS (
  SELECT minute, n, row_number() OVER (ORDER BY minute) AS rn FROM buckets
),
walk AS (
  SELECT rn, minute, n, 1 AS gen, minute AS start_min,
         CAST(n AS BIGINT) AS ndocs
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT s.rn, s.minute, s.n,
         CASE WHEN {roll} THEN w.gen + 1 ELSE w.gen END,
         CASE WHEN {roll} THEN s.minute ELSE w.start_min END,
         CASE WHEN {roll} THEN CAST(s.n AS BIGINT) ELSE w.ndocs + s.n END
  FROM walk w JOIN seq s ON s.rn = w.rn + 1
)
SELECT CAST(gen AS INTEGER) AS gen,
       min(minute) AS start_min,
       max(minute) AS end_min,
       CAST(count(*) AS INTEGER) AS n_buckets,
       CAST(sum(n) AS BIGINT) AS n_docs
FROM walk
GROUP BY gen
ORDER BY gen
"""


# --- SLM snapshot retention (ES snapshot lifecycle) -----------------------------

def slm_retention(
    corpus: DataFrame,
    expire_after_min: int = 120,
    min_count: int = 5,
    max_count: int = 100,
) -> DataFrame:
    """ES SLM retention (`slm.retention`: expire_after / min_count /
    max_count) evaluated over the snapshot catalog — here one snapshot
    per minute bucket of the corpus timeline (the cadence
    `snapshot_index` would produce on this stream; at web scale the
    catalog is the _snapshot API listing, still axis-sized).

    Pinned rule order (the ES semantics: min_count overrides expiry,
    max_count deletes oldest beyond the cap):
        rank   = recency rank (newest = 1)
        keep 'min_count'   if rank <= min_count
        delete 'expired'   elif age >= expire_after_min
        delete 'max_count' elif rank > max_count
        keep 'retained'    otherwise

    Scale shape: the catalog is ONE map-side hash aggregate of the
    corpus (axis-sized); ranking/age are a window over that bounded
    relation (the timeline_pipeline bounded-axis contract)."""
    expire_after_min = int(expire_after_min)
    min_count, max_count = int(min_count), int(max_count)
    if min_count < 0 or max_count < min_count or expire_after_min < 1:
        raise ValueError(
            "need 0 <= min_count <= max_count and expire_after_min >= 1"
        )
    from pyspark.sql import Window

    snaps = (
        corpus.groupBy(
            F.date_format(
                F.date_trunc("minute", "warc_ts"), "yyyy-MM-dd HH:mm"
            ).alias("snap_min")
        )
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    w = Window.partitionBy(F.lit(0)).orderBy(F.desc("snap_min"))
    ranked = snaps.withColumn("rank", F.row_number().over(w)).withColumn(
        "latest", F.max("snap_min").over(Window.partitionBy(F.lit(0)))
    )
    age = (
        F.unix_timestamp("latest", "yyyy-MM-dd HH:mm")
        - F.unix_timestamp("snap_min", "yyyy-MM-dd HH:mm")
    ) / 60
    ranked = ranked.withColumn("age_min", age.cast("long"))
    reason = (
        F.when(F.col("rank") <= min_count, F.lit("min_count"))
        .when(F.col("age_min") >= expire_after_min, F.lit("expired"))
        .when(F.col("rank") > max_count, F.lit("max_count"))
        .otherwise(F.lit("retained"))
    )
    return (
        ranked.select(
            "snap_min",
            "n_docs",
            F.col("rank").cast("int").alias("rank"),
            "age_min",
            F.when(
                (F.col("rank") <= min_count)
                | (
                    (F.col("age_min") < expire_after_min)
                    & (F.col("rank") <= max_count)
                ),
                F.lit("keep"),
            ).otherwise(F.lit("delete")).alias("action"),
            reason.alias("reason"),
        )
        .orderBy("snap_min")
    )


def slm_retention_sql(
    expire_after_min: int = 120, min_count: int = 5, max_count: int = 100
) -> str:
    from ..corpus import CORPUS_CTE

    expire_after_min = int(expire_after_min)
    min_count, max_count = int(min_count), int(max_count)
    return f"""
WITH {CORPUS_CTE.strip()},
snaps AS (
  SELECT strftime(date_trunc('minute', warc_ts), '%Y-%m-%d %H:%M')
             AS snap_min,
         count(*) AS n_docs
  FROM corpus GROUP BY 1
),
ranked AS (
  SELECT snap_min, n_docs,
         row_number() OVER (ORDER BY snap_min DESC) AS rank,
         max(snap_min) OVER () AS latest
  FROM snaps
),
aged AS (
  SELECT snap_min, n_docs, rank,
         CAST(date_diff('minute', strptime(snap_min, '%Y-%m-%d %H:%M'),
                        strptime(latest, '%Y-%m-%d %H:%M')) AS BIGINT)
             AS age_min
  FROM ranked
)
SELECT snap_min, n_docs, CAST(rank AS INTEGER) AS rank, age_min,
       CASE WHEN rank <= {min_count}
                 OR (age_min < {expire_after_min} AND rank <= {max_count})
            THEN 'keep' ELSE 'delete' END AS action,
       CASE WHEN rank <= {min_count} THEN 'min_count'
            WHEN age_min >= {expire_after_min} THEN 'expired'
            WHEN rank > {max_count} THEN 'max_count'
            ELSE 'retained' END AS reason
FROM aged
ORDER BY snap_min
"""
