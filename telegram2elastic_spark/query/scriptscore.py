"""ES `script_score` query — rank by a user script over `_score` and
doc values (the Painless arithmetic subset ES documents for scoring).

The reference ships its documents to Elasticsearch and lets dashboards
re-rank with scripts (README.md:5 Kibana serving path); this module is
the engine-side equivalent: a tiny Painless-subset compiler whose ONE
parse tree drives three emitters —

  * a Spark `Column` (relational path, whole-stage codegen),
  * a numpy evaluator (the per-salt index kernel),
  * a DuckDB SQL expression (the oracle),

so all three engines evaluate the IDENTICAL double expression tree in
the identical operation order.  The only cross-engine noise is libm
ulps, absorbed by the final `round(_, SCORE_DECIMALS)` — the same
argument the BM25 idf and function_score rely on.

Supported grammar (the documented script_score scoring subset):

    expr    := term (('+'|'-') term)*
    term    := unary (('*'|'/') unary)*
    unary   := '-' unary | primary
    primary := NUMBER | '_score' | doc['<field>'].value
             | Math.<fn>(args) | saturation(x, k) | sigmoid(x, k, a)
             | '(' expr ')'

`Math.{log, log10, exp, sqrt, abs, max, min, pow}` map to the engines'
native doubles.  ES's `saturation(x, k) = x/(x+k)` and
`sigmoid(x, k, a) = x^a/(k^a + x^a)` are expanded at PARSE time into the
core node set, so the emitters stay minimal and provably aligned.
Fields are the index's doc-values: `doc_len` (token count) and `epoch`
(warc_ts as epoch seconds) — unknown fields or functions raise at parse
time (ES's script compile error).

Divergence note: ES rejects scripts that PRODUCE a negative score at
query time; a distributed engine cannot cheaply observe every row, so
negative scores are emitted as computed (use Math.max(0, ...) in the
script, as ES docs themselves recommend).

Serving shape (`index=`): like function_score, a script can demote
high-BM25 docs arbitrarily, so no score-ordered pruning is admissible
without a script upper bound — the per-salt kernel fully accumulates the
postings-bounded match set, joins the salt's cogrouped doc-values slice,
evaluates the script IN the kernel (numpy, vectorized), and emits the
salt-local top-k by the final rounded key.  Docs live in exactly one
salt and the key is computed identically everywhere, so the global merge
is an exact TakeOrdered over P*k rows; url lookup is a k-row broadcast.
The corpus is never re-tokenized at query time.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..corpus import CORPUS_CTE
from ..functions.tokenizer import DOC_LEN_SQL, TOKEN_SPLIT_RE, tokens
from .bm25 import B, K1, SCORE_DECIMALS, bm25_scores

FIELDS = ("doc_len", "epoch")

# name -> arity; all evaluate as IEEE doubles in every engine
_FUNCS = {"log": 1, "log10": 1, "exp": 1, "sqrt": 1, "abs": 1,
          "max": 2, "min": 2, "pow": 2}

_TOKEN_RE = re.compile(
    r"\s*(?:(?P<num>\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)"
    r"|(?P<id>[A-Za-z_][A-Za-z_0-9]*)"
    r"|(?P<str>'[^']*'|\"[^\"]*\")"
    r"|(?P<op>[-+*/()\[\].,]))"
)


def _tokenize(src: str) -> list[tuple[str, str]]:
    out, pos = [], 0
    while pos < len(src):
        m = _TOKEN_RE.match(src, pos)
        if m is None or m.end() == pos:
            rest = src[pos:].lstrip()
            if not rest:
                break
            raise ValueError(f"script_score: bad token at {rest[:12]!r}")
        pos = m.end()
        for kind in ("num", "id", "str", "op"):
            v = m.group(kind)
            if v is not None:
                out.append((kind, v))
                break
    return out


class _Parser:
    def __init__(self, toks: list[tuple[str, str]]):
        self.toks, self.i = toks, 0

    def peek(self) -> tuple[str, str] | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def eat(self, kind: str, val: str | None = None) -> str:
        t = self.peek()
        if t is None or t[0] != kind or (val is not None and t[1] != val):
            raise ValueError(
                f"script_score: expected {val or kind} at token {self.i}"
            )
        self.i += 1
        return t[1]

    def expr(self):
        node = self.term()
        while (t := self.peek()) in (("op", "+"), ("op", "-")):
            self.i += 1
            node = ("bin", t[1], node, self.term())
        return node

    def term(self):
        node = self.unary()
        while (t := self.peek()) in (("op", "*"), ("op", "/")):
            self.i += 1
            node = ("bin", t[1], node, self.unary())
        return node

    def unary(self):
        if self.peek() == ("op", "-"):
            self.i += 1
            return ("neg", self.unary())
        return self.primary()

    def args(self, n: int) -> list:
        self.eat("op", "(")
        out = [self.expr()]
        while self.peek() == ("op", ","):
            self.i += 1
            out.append(self.expr())
        self.eat("op", ")")
        if len(out) != n:
            raise ValueError(f"script_score: expected {n} args, got {len(out)}")
        return out

    def primary(self):
        t = self.peek()
        if t is None:
            raise ValueError("script_score: unexpected end of script")
        kind, v = t
        if kind == "num":
            self.i += 1
            return ("num", float(v))
        if t == ("op", "("):
            self.i += 1
            node = self.expr()
            self.eat("op", ")")
            return node
        if kind == "id":
            self.i += 1
            if v == "_score":
                return ("score",)
            if v == "doc":
                self.eat("op", "[")
                name = self.eat("str")[1:-1]
                self.eat("op", "]")
                self.eat("op", ".")
                if self.eat("id") != "value":
                    raise ValueError("script_score: expected .value")
                if name not in FIELDS:
                    raise ValueError(
                        f"script_score: unknown field {name!r} "
                        f"(doc-values fields: {', '.join(FIELDS)})"
                    )
                return ("field", name)
            if v == "Math":
                self.eat("op", ".")
                fn = self.eat("id")
                if fn not in _FUNCS:
                    raise ValueError(f"script_score: unknown Math.{fn}")
                return ("call", fn, self.args(_FUNCS[fn]))
            if v == "saturation":
                x, kk = self.args(2)
                return ("bin", "/", x, ("bin", "+", x, kk))
            if v == "sigmoid":
                x, kk, a = self.args(3)
                xa = ("call", "pow", [x, a])
                ka = ("call", "pow", [kk, a])
                return ("bin", "/", xa, ("bin", "+", ka, xa))
            raise ValueError(f"script_score: unknown identifier {v!r}")
        raise ValueError(f"script_score: unexpected token {v!r}")


def parse_script(src: str):
    """Parse a Painless-subset scoring script into the AST (tuples).
    Raises ValueError at any unknown field/function/syntax — the ES
    script-compile-error analogue, surfaced at query build time."""
    p = _Parser(_tokenize(src))
    node = p.expr()
    if p.peek() is not None:
        raise ValueError("script_score: trailing tokens")
    return node


# --- emitters (one AST, three engines) ----------------------------------

_SPARK_FN = {"log": F.log, "log10": F.log10, "exp": F.exp, "sqrt": F.sqrt,
             "abs": F.abs, "max": F.greatest, "min": F.least, "pow": F.pow}
_NP_FN = {"log": np.log, "log10": np.log10, "exp": np.exp, "sqrt": np.sqrt,
          "abs": np.abs, "max": np.maximum, "min": np.minimum,
          "pow": np.power}
_SQL_FN = {"log": "ln", "log10": "log10", "exp": "exp", "sqrt": "sqrt",
           "abs": "abs", "max": "greatest", "min": "least", "pow": "pow"}


def to_spark(ast, score: F.Column, fields: dict[str, F.Column]) -> F.Column:
    def go(n):
        if n[0] == "num":
            return F.lit(n[1])
        if n[0] == "score":
            return score
        if n[0] == "field":
            return fields[n[1]]
        if n[0] == "neg":
            return -go(n[1])
        if n[0] == "bin":
            a, b = go(n[2]), go(n[3])
            return {"+": a + b, "-": a - b, "*": a * b, "/": a / b}[n[1]]
        return _SPARK_FN[n[1]](*[go(a) for a in n[2]])

    return go(ast)


def to_numpy(ast, score: np.ndarray, fields: dict[str, np.ndarray]) -> np.ndarray:
    def go(n):
        if n[0] == "num":
            return np.float64(n[1])
        if n[0] == "score":
            return score
        if n[0] == "field":
            return fields[n[1]]
        if n[0] == "neg":
            return -go(n[1])
        if n[0] == "bin":
            a, b = go(n[2]), go(n[3])
            if n[1] == "+":
                return a + b
            if n[1] == "-":
                return a - b
            if n[1] == "*":
                return a * b
            return a / b
        return _NP_FN[n[1]](*[go(a) for a in n[2]])

    return np.asarray(go(ast), dtype=np.float64)


def to_sql(ast, score: str, fields: dict[str, str]) -> str:
    def go(n):
        if n[0] == "num":
            return repr(float(n[1]))
        if n[0] == "score":
            return f"({score})"
        if n[0] == "field":
            return f"({fields[n[1]]})"
        if n[0] == "neg":
            return f"(-{go(n[1])})"
        if n[0] == "bin":
            return f"({go(n[2])} {n[1]} {go(n[3])})"
        return f"{_SQL_FN[n[1]]}({', '.join(go(a) for a in n[2])})"

    return go(ast)


# --- query paths ---------------------------------------------------------


def script_score_topk(
    corpus: DataFrame,
    terms: list[str],
    script: str,
    k: int = 10,
    index: dict | None = None,
    min_score: float | None = None,
) -> DataFrame:
    """Top-k (doc_id, url, score) where score = script(_score, doc) over
    the BM25 match set of `terms`.  With `index=` served from the
    compressed posting index (module docstring); rank-identical to the
    relational path."""
    ast = parse_script(script)
    if index is not None:
        return _script_indexed(index, terms, ast, k, min_score)
    scored = bm25_scores(corpus, terms)
    side = corpus.select(
        "doc_id",
        F.size(tokens("text")).cast("double").alias("doc_len"),
        F.col("warc_ts").cast("long").cast("double").alias("epoch"),
    )
    col = to_spark(
        ast, F.col("score"),
        {"doc_len": F.col("doc_len"), "epoch": F.col("epoch")},
    )
    out = scored.join(side, "doc_id").select(
        "doc_id", "url", F.round(col, SCORE_DECIMALS).alias("score")
    )
    if min_score is not None:
        out = out.filter(F.col("score") >= float(min_score))
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(int(k))


def _script_indexed(
    index: dict, terms: list[str], ast, k: int, min_score: float | None
) -> DataFrame:
    from .funcscore import _doc_values_side
    from .wand import (
        _EMPTY,
        _collect_idfs,
        _postings_for_terms,
        _score_salt_group,
        _select,
        _split_filters,
        _topk_frame,
        _with_urls,
    )

    spark = index["doc_map"].sparkSession
    idfs, avgdl = _collect_idfs(index, terms)
    empty = spark.createDataFrame([], "doc_id long, url string, score double")
    if not idfs:
        return empty

    post = _postings_for_terms(index, sorted(idfs))
    side = _doc_values_side(index)

    def kernel(post_pdf: pd.DataFrame, side_pdf: pd.DataFrame) -> pd.DataFrame:
        dv = side_pdf.loc[side_pdf["kind"] == "h", ["doc_id", "epoch", "doc_len"]]
        tomb, _ = _split_filters(side_pdf, has_allow=False)
        scored = _score_salt_group(
            post_pdf, idfs, float(avgdl), 1 << 60, tombstones=tomb
        )
        if scored.empty:
            return _EMPTY.copy()
        m = scored.merge(dv, on="doc_id", how="left")
        final = np.round(
            to_numpy(
                ast,
                m["score"].to_numpy(np.float64),
                {
                    "doc_len": m["doc_len"].to_numpy(np.float64),
                    "epoch": m["epoch"].to_numpy(np.float64),
                },
            ),
            SCORE_DECIMALS,
        )
        ids = m["doc_id"].to_numpy(np.int64)
        if min_score is not None:
            keep_mask = final >= float(min_score)
            ids, final = ids[keep_mask], final[keep_mask]
        return _topk_frame(*_select(ids, final, k))

    local = (
        post.groupBy("salt")
        .cogroup(side.groupBy("salt"))
        .applyInPandas(kernel, "doc_id long, score double")
    )
    return _with_urls(
        index, local.orderBy(F.desc("score"), F.asc("doc_id")).limit(int(k))
    )


def script_score_sql(
    terms: list[str], script: str, k: int = 10, min_score: float | None = None
) -> str:
    """DuckDB oracle — the same AST rendered over the same BM25 CTE."""
    ast = parse_script(script)
    tl = ", ".join("'" + t.replace("'", "''") + "'" for t in sorted(set(terms)))
    expr = to_sql(
        ast, "score",
        {"doc_len": "CAST(doc_len AS DOUBLE)",
         "epoch": "CAST(CAST(epoch(warc_ts) AS BIGINT) AS DOUBLE)"},
    )
    gate = f"WHERE score >= {float(min_score)!r}\n" if min_score is not None else ""
    return f"""
WITH {CORPUS_CTE.strip()},
dl AS (SELECT doc_id, url, warc_ts, {DOC_LEN_SQL} AS doc_len FROM corpus),
stats AS (SELECT count(*) AS n, avg(doc_len) AS avgdl FROM dl),
toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text),
             '{TOKEN_SPLIT_RE}'), t -> t <> '')) AS term
  FROM corpus
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks
  WHERE term IN ({tl}) GROUP BY doc_id, term
),
tdf AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, dl.url, dl.warc_ts, dl.doc_len,
         round(sum(
           ln(1 + (stats.n - tdf.df + 0.5) / (tdf.df + 0.5))
           * tf.tf * ({K1} + 1.0)
           / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / stats.avgdl))
         ), {SCORE_DECIMALS}) AS score
  FROM tf
  JOIN dl ON tf.doc_id = dl.doc_id
  JOIN tdf ON tf.term = tdf.term
  CROSS JOIN stats
  GROUP BY tf.doc_id, dl.url, dl.warc_ts, dl.doc_len
),
rescored AS (
  SELECT doc_id, url, round({expr}, {SCORE_DECIMALS}) AS score FROM scored
)
SELECT doc_id, url, score FROM rescored
{gate}ORDER BY score DESC, doc_id ASC
LIMIT {int(k)}
"""


# --- driver-local query-node path -----------------------------------------


def _ast_fields(ast) -> set[str]:
    if ast[0] == "field":
        return {ast[1]}
    if ast[0] == "neg":
        return _ast_fields(ast[1])
    if ast[0] == "bin":
        return _ast_fields(ast[2]) | _ast_fields(ast[3])
    if ast[0] == "call":
        out: set[str] = set()
        for a in ast[2]:
            out |= _ast_fields(a)
        return out
    return set()


def _epoch_docvalues(index: dict) -> tuple[np.ndarray, np.ndarray]:
    """Resident (doc_id-sorted) epoch doc-values column — the Lucene
    memory-mapped doc-values shape for a query node.  One Spark fetch per
    opened index, cached on the index dict like _local_decoded."""
    cache = index.get("_epoch_dv")
    if cache is None:
        pdf = (
            index["doc_map"]
            .select("doc_id", F.col("warc_ts").cast("long").alias("epoch"))
            .toPandas()
        )
        ids = pdf["doc_id"].to_numpy(np.int64)
        ep = pdf["epoch"].to_numpy(np.float64)
        o = np.argsort(ids, kind="stable")
        cache = (ids[o], ep[o])
        index["_epoch_dv"] = cache
    return cache


def script_score_topk_local(
    index: dict,
    terms: list[str],
    script: str,
    k: int = 10,
    min_score: float | None = None,
) -> list[tuple]:
    """[(doc_id, score)] — rank-identical to script_score_topk(index=).

    Full accumulation over the hot-shard posting cache (wand_topk_local
    with the k cut disarmed — a script can promote any matching doc, so
    the whole match set is scored).  `doc_len` is decoded FROM the
    resident postings (dl rides in every block — no doc-values fetch);
    `epoch` reads the resident doc-values column (_epoch_docvalues).
    """
    from .wand import _collect_idfs, _select, _term_arrays, wand_topk_local

    ast = parse_script(script)
    full = wand_topk_local(index, terms, k=1 << 60)
    if not full:
        return []
    ids = np.fromiter((d for d, _ in full), np.int64, len(full))
    score = np.fromiter((s for _, s in full), np.float64, len(full))
    used = _ast_fields(ast)
    fields: dict[str, np.ndarray] = {}
    if "doc_len" in used:
        idfs, _ = _collect_idfs(index, terms)
        pids, pdl = [], []
        for t in sorted(idfs):
            arr = _term_arrays(index, t)
            if arr is not None:
                pids.append(arr[0])
                pdl.append(arr[2])
        aid = np.concatenate(pids).astype(np.int64)
        adl = np.concatenate(pdl).astype(np.float64)
        o = np.argsort(aid, kind="stable")
        aid, adl = aid[o], adl[o]
        first = np.concatenate(([True], aid[1:] != aid[:-1]))
        aid, adl = aid[first], adl[first]
        fields["doc_len"] = adl[np.searchsorted(aid, ids)]
    if "epoch" in used:
        did, dep = _epoch_docvalues(index)
        fields["epoch"] = dep[np.searchsorted(did, ids)]
    final = np.round(to_numpy(ast, score, fields), SCORE_DECIMALS)
    if min_score is not None:
        keep = final >= float(min_score)
        ids, final = ids[keep], final[keep]
    ids, final = _select(ids, final, int(k))
    return list(zip(ids.tolist(), final.tolist()))


# --- script_fields + script sort (ES `_search` script surface) -------------


def _ast_has_score(ast) -> bool:
    if ast[0] == "score":
        return True
    if ast[0] == "neg":
        return _ast_has_score(ast[1])
    if ast[0] == "bin":
        return _ast_has_score(ast[2]) or _ast_has_score(ast[3])
    if ast[0] == "call":
        return any(_ast_has_score(a) for a in ast[2])
    return False


_SF_SPARK_FIELDS = {
    "doc_len": lambda: F.size(tokens("text")).cast("double"),
    "epoch": lambda: F.col("warc_ts").cast("long").cast("double"),
}
_SF_SQL_FIELDS = {
    "doc_len": f"CAST({{dl}} AS DOUBLE)",
    "epoch": "CAST(CAST(epoch(warc_ts) AS BIGINT) AS DOUBLE)",
}


def _compile_hit_script(name: str, src: str):
    """Parse a hit-context script (script_fields / _script sort): the
    Painless subset WITHOUT `_score` — there is no query context, exactly
    ES's 'Variable [_score] is not available' compile error."""
    ast = parse_script(src)
    if _ast_has_score(ast):
        raise ValueError(
            f"script field {name!r}: _score is not available in a "
            "hit-context script (no query)"
        )
    return ast


def script_fields_page(
    corpus: DataFrame,
    scripts: dict[str, str],
    sort_script: str | None = None,
    k: int = 20,
) -> DataFrame:
    """ES `_search` `script_fields` + `_script` sort: a page of documents
    with per-hit computed fields, optionally ordered by a script.

    Every script goes through the SAME Painless-subset compiler as
    `script_score` (one parse tree -> Spark Column / DuckDB SQL), so a
    bad script fails at request-build time like ES's compile error, and
    `_score` is rejected (hit context has no query — the ES behavior).
    Sort is (script value desc, doc_id asc); without a sort script the
    page is doc_id asc (the ES default-ish stable order).

    Scale shape: ONE codegen'd map stage over a pushed-column scan +
    TakeOrdered(k) — no shuffle, no UDF; scripts become native Catalyst
    expressions."""
    if not scripts:
        raise ValueError("script_fields: need at least one script")
    cols = [F.col("doc_id"), F.col("url")]
    for name in sorted(scripts):
        ast = _compile_hit_script(name, scripts[name])
        fields = {f: _SF_SPARK_FIELDS[f]() for f in _ast_fields(ast)}
        cols.append(
            F.round(to_spark(ast, None, fields), SCORE_DECIMALS).alias(name)
        )
    out = corpus.select(*cols)
    if sort_script is not None:
        ast = _compile_hit_script("_sort", sort_script)
        fields = {f: _SF_SPARK_FIELDS[f]() for f in _ast_fields(ast)}
        key = F.round(to_spark(ast, None, fields), SCORE_DECIMALS)
        out = corpus.select(*cols, key.alias("sort_key"))
        return out.orderBy(
            F.desc("sort_key"), F.asc("doc_id")
        ).limit(int(k))
    return out.orderBy(F.asc("doc_id")).limit(int(k))


def script_fields_page_sql(
    scripts: dict[str, str], sort_script: str | None = None, k: int = 20
) -> str:
    from ..corpus import CORPUS_CTE as _CTE

    sql_fields = {
        "doc_len": _SF_SQL_FIELDS["doc_len"].format(dl=DOC_LEN_SQL),
        "epoch": _SF_SQL_FIELDS["epoch"],
    }
    exprs = []
    for name in sorted(scripts):
        ast = _compile_hit_script(name, scripts[name])
        exprs.append(
            f"round({to_sql(ast, None, sql_fields)}, {SCORE_DECIMALS})"
            f" AS {name}"
        )
    sel = ",\n       ".join(exprs)
    if sort_script is not None:
        ast = _compile_hit_script("_sort", sort_script)
        key = f"round({to_sql(ast, None, sql_fields)}, {SCORE_DECIMALS})"
        return f"""
WITH {_CTE.strip()}
SELECT doc_id, url,
       {sel},
       {key} AS sort_key
FROM corpus
ORDER BY sort_key DESC, doc_id ASC
LIMIT {int(k)}
"""
    return f"""
WITH {_CTE.strip()}
SELECT doc_id, url,
       {sel}
FROM corpus
ORDER BY doc_id ASC
LIMIT {int(k)}
"""


def script_fields_local(
    index: dict,
    ids,
    scripts: dict[str, str],
    doc_store: str | None = None,
    cache: dict | None = None,
    ds_cache: dict | None = None,
) -> list[tuple]:
    """`script_fields` served driver-locally: per-id computed fields from
    doc-store row-group point reads (no Spark job).  doc_len is the
    analyzer token count of the stored text (the SAME analyzer the index
    was built with) and epoch the stored warc_ts — the doc-values the
    Spark path derives; values match `script_fields_page` per id (the
    local-twin identity contract).  Returns [(doc_id, v1, v2, ...)] with
    values in sorted script-name order; absent ids are skipped (GET
    semantics — the `_mget` envelope op reports missing ids)."""
    from ..functions.tokenizer import py_tokenize
    from .docstore import fetch_docs_local, resolve_doc_store

    if not scripts:
        raise ValueError("script_fields: need at least one script")
    asts = {
        name: _compile_hit_script(name, src)
        for name, src in sorted(scripts.items())
    }
    store = resolve_doc_store(index, doc_store)
    if store is None:
        raise ValueError("script_fields_local needs a doc_store")
    uniq = sorted({int(i) for i in ids})
    rows = fetch_docs_local(
        store, uniq, cache=cache, ds_cache=ds_cache,
        cols=["doc_id", "warc_ts", "text"],
    )
    out = []
    for i in uniq:
        r = rows.get(i)
        if r is None:
            continue
        import calendar

        # exact integer floor-seconds (== Spark's timestamp->long cast);
        # float .timestamp() could mis-floor within its ~1e-7 s ulp
        secs = calendar.timegm(r["warc_ts"].utctimetuple())
        fields = {
            "doc_len": np.float64(len(py_tokenize(r["text"]))),
            "epoch": np.float64(secs),
        }
        vals = tuple(
            float(np.round(to_numpy(ast, None, fields), SCORE_DECIMALS))
            for ast in asts.values()
        )
        out.append((i, *vals))
    return out
