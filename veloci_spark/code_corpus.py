"""Source-code corpus of the north-rule input shape + BM25 driver entries.

BASELINE.json input_hint: "Iceberg table of source-code repositories with
columns (repo:string, path:string, commit:string, lang:string,
content:string)".  No external data exists in this sandbox, so the
corpus is SYNTHESIZED DETERMINISTICALLY from the driver's own
``documents`` table — the same derivation exists twice, byte-for-byte:
:func:`code_corpus` as Spark Column expressions and :data:`CODE_CTE` as
DuckDB SQL, so the driver's side-by-side oracle can recompute every
result (including the per-row content sha256 invariant the rule asks
for) from the raw parquet.

The content is code-shaped (`// <path>\\nfn doc_<id>() { /* <text> */ }`)
and the ``content`` field is tokenized on a code separator set (slashes,
operators, braces — the reference's code-search test uses the same
mechanism, /root/reference/tests/all/test_code_search.rs:14-26) and
carries baked BM25 postings (bm25.py) next to the native veloci-score
postings.

At production scale the corpus source is an Iceberg table
(``spark.read.format("iceberg").load(tbl)`` — see jobs/build_index_job);
everything downstream of the DataFrame is source-agnostic.
"""

from __future__ import annotations

import hashlib
import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from veloci_spark.bm25 import (
    bm25_and_topk,
    bm25_batch_topk,
    bm25_explain_topk,
    bm25_filtered_topk,
    bm25_phrase_topk,
    bm25_auto_topk,
    bm25_collapse_topk,
    bm25_mlt_topk,
    bm25_near_topk,
    bm25_facets,
    bm25_fuzzy_topk,
    bm25_prf_topk,
    bm25_sigterms,
    bm25_snippet_topk,
    bm25_topk,
    bm25_topk_after,
    bm25f_topk,
    sql_bm25_e4,
)
from veloci_spark.build import build_index
from veloci_spark.config import (
    DEFAULT_SEPARATORS,
    FieldConfig,
    IndexConfig,
    index_cache_root,
)
from veloci_spark.index import Index
from veloci_spark.oracle import _q
from veloci_spark.tokenize import run_pattern, sep_class
from veloci_spark.pipeline.common import read_fanned

#: code-aware separator set: the default (reference) separators plus the
#: operator/comment chars that appear in source text
CODE_SEPARATORS: tuple[str, ...] = DEFAULT_SEPARATORS + (
    "/", "*", "+", "=", "&", "|", "!", "?", "#", "_",
)

PATH_SEPARATORS: tuple[str, ...] = ("/", ".")

CODE_CONFIG = IndexConfig(
    fields=(
        # the code index is queried EXCLUSIVELY through the BM25 engine
        # (docstore + dictionary + bm25 blocks + phrase pairs); native
        # veloci-score postings would be built and never read, and they
        # are the most expensive stage of a text-heavy build (~60% of
        # the 800k-doc build wall) — so skip them. Native Request
        # search on content/path raises a clear error by design.
        FieldConfig(
            "content",
            tokenize_on_chars=CODE_SEPARATORS,
            bm25=True,
            phrase_pairs=True,
            native_postings=False,
        ),
        FieldConfig(
            "path",
            tokenize_on_chars=PATH_SEPARATORS,
            bm25=True,
            native_postings=False,
        ),
        # lang is filtered through the docstore/corpus in every code
        # query; native postings on it would keep the whole native
        # posting stage alive (and with it a premature full value_agg
        # materialization) for a table nothing reads
        FieldConfig("lang", native_postings=False),
    ),
    block_docs=1024,
    doc_id_col="doc_id",
)


# ------------------------- corpus derivation (Spark) -------------------------

def code_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, repo, path, commit, lang, content) derived from
    sf_dir/documents.parquet — expression-for-expression identical to
    :data:`CODE_CTE`."""
    docs = read_fanned(spark, os.path.join(sf_dir, "documents.parquet"))
    lang = (
        F.when(F.col("doc_id") % 4 == 0, F.lit("py"))
        .when(F.col("doc_id") % 4 == 1, F.lit("rs"))
        .when(F.col("doc_id") % 4 == 2, F.lit("go"))
        .otherwise(F.lit("js"))
    )
    step1 = docs.select("doc_id", "text", lang.alias("lang"))
    repo = F.concat(F.lit("repo-"), (F.col("doc_id") % 13).cast("string"))
    path = F.concat(
        F.lit("src/mod"),
        (F.col("doc_id") % 97).cast("string"),
        F.lit("/f"),
        F.col("doc_id").cast("string"),
        F.lit("."),
        F.col("lang"),
    )
    step2 = step1.select(
        "doc_id", "text", "lang", repo.alias("repo"), path.alias("path")
    )
    content = F.concat(
        F.lit("// "),
        F.col("path"),
        F.lit("\n"),
        F.lit("fn doc_"),
        F.col("doc_id").cast("string"),
        F.lit("() { /* "),
        F.col("text"),
        F.lit(" */ }"),
    )
    commit = F.substring(
        F.sha2(
            F.concat(
                F.col("repo"),
                F.lit("/"),
                F.col("path"),
                F.lit("@"),
                F.col("doc_id").cast("string"),
            ),
            256,
        ),
        1,
        40,
    )
    return step2.select(
        "doc_id",
        "repo",
        "path",
        commit.alias("commit"),
        "lang",
        content.alias("content"),
    )


# ------------------------ corpus derivation (DuckDB) ------------------------

_PAT = _q(run_pattern(CODE_SEPARATORS))
_SEP = _q("^" + sep_class(CODE_SEPARATORS) + "$")

#: just the corpus derivation (code0/code1/code) — reusable by oracles
#: that consume the code table without the tokenizer CTEs
CODE_BASE_CTE = f"""
code0 AS (
  SELECT doc_id, text,
         CASE WHEN doc_id % 4 = 0 THEN 'py'
              WHEN doc_id % 4 = 1 THEN 'rs'
              WHEN doc_id % 4 = 2 THEN 'go'
              ELSE 'js' END AS lang
  FROM documents
),
code1 AS (
  SELECT doc_id, text, lang,
         'repo-' || CAST(doc_id % 13 AS VARCHAR) AS repo,
         'src/mod' || CAST(doc_id % 97 AS VARCHAR) || '/f' ||
           CAST(doc_id AS VARCHAR) || '.' || lang AS path
  FROM code0
),
code AS (
  SELECT doc_id, repo, path,
         substr(sha256(repo || '/' || path || '@' || CAST(doc_id AS VARCHAR)), 1, 40)
           AS "commit",
         lang,
         '// ' || path || chr(10) || 'fn doc_' || CAST(doc_id AS VARCHAR) ||
           '() {{ /* ' || text || ' */ }}' AS content
  FROM code1
)"""

CODE_CTE = f"""{CODE_BASE_CTE},
cruns AS (
  SELECT doc_id, regexp_extract_all(content, {_PAT}) AS r
  FROM code WHERE content IS NOT NULL
),
ctoks AS (
  SELECT doc_id, unnest(r) AS tok FROM cruns WHERE len(r) >= 2
),
cterm_counts AS (
  SELECT term, count(*) AS num_occurences FROM (
    SELECT tok AS term FROM ctoks
    UNION ALL
    SELECT content AS term FROM code
    WHERE content IS NOT NULL AND strlen(content) <= 64
  ) GROUP BY term
),
cdict AS (
  SELECT term, row_number() OVER (ORDER BY term) - 1 AS term_id
  FROM cterm_counts
),
cnonsep AS (
  SELECT doc_id, tok FROM ctoks
  WHERE NOT regexp_matches(substr(tok, 1, 1), {_SEP})
),
cdoc_len AS (
  SELECT doc_id, count(*) AS dl FROM cnonsep GROUP BY doc_id
),
cstats AS (
  SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM cdoc_len
),
ctf AS (
  SELECT d.term_id, n.doc_id, count(*) AS tf
  FROM cnonsep n JOIN cdict d ON n.tok = d.term
  GROUP BY d.term_id, n.doc_id
),
ctfdf AS (
  SELECT term_id, doc_id, tf,
         count(*) OVER (PARTITION BY term_id) AS df
  FROM ctf
),
cbm25 AS (
  SELECT t.term_id, t.doc_id,
         {sql_bm25_e4('t.tf', 't.df', 'l.dl', 's.n_docs', 's.avgdl')} AS score
  FROM ctfdf t JOIN cdoc_len l USING (doc_id) CROSS JOIN cstats s
)"""

# path-field BM25 mirror (separators "/" and "."); keyed by term STRING —
# term ids are per-field in the engine, equality on the string is the
# same relation
_PPAT = _q(run_pattern(PATH_SEPARATORS))
_PSEP = _q("^" + sep_class(PATH_SEPARATORS) + "$")

PATH_BM25_CTE = f"""
pruns AS (
  SELECT doc_id, regexp_extract_all(path, {_PPAT}) AS r
  FROM code WHERE path IS NOT NULL
),
ptoks AS (
  SELECT doc_id, unnest(r) AS tok FROM pruns WHERE len(r) >= 2
),
pnonsep AS (
  SELECT doc_id, tok FROM ptoks
  WHERE NOT regexp_matches(substr(tok, 1, 1), {_PSEP})
),
pdoc_len AS (
  SELECT doc_id, count(*) AS dl FROM pnonsep GROUP BY doc_id
),
pstats AS (
  SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM pdoc_len
),
ptf AS (
  SELECT tok AS term, doc_id, count(*) AS tf FROM pnonsep GROUP BY tok, doc_id
),
ptfdf AS (
  SELECT term, doc_id, tf,
         count(*) OVER (PARTITION BY term) AS df
  FROM ptf
),
pbm25 AS (
  SELECT t.term, t.doc_id,
         {sql_bm25_e4('t.tf', 't.df', 'l.dl', 's.n_docs', 's.avgdl')} AS score
  FROM ptfdf t JOIN pdoc_len l USING (doc_id) CROSS JOIN pstats s
)"""

# content tokens WITH positions (run index), for exact phrase adjacency:
# np ranks NON-separator runs, so np+1 = "adjacent ignoring separator
# runs" — the engine's phrase-pair chain (build.py _build_phrase_pairs)
CONTENT_POS_CTE = f"""
cposr AS (
  SELECT doc_id, regexp_extract_all(content, {_PAT}) AS r
  FROM code WHERE content IS NOT NULL
),
cpos AS (
  SELECT doc_id, unnest(r) AS tok, unnest(range(1, len(r) + 1)) AS pos
  FROM cposr WHERE len(r) >= 2
),
cnsp AS (
  SELECT doc_id, tok,
         row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS np
  FROM cpos WHERE NOT regexp_matches(substr(tok, 1, 1), {_SEP})
)"""


def _bm25_topk_sql(terms: list[str], k: int) -> str:
    in_list = ", ".join(_q(t) for t in terms)
    return (
        "WITH "
        + CODE_CTE
        + f"""
SELECT b.doc_id, CAST(sum(b.score) AS BIGINT) AS score_e4
FROM cbm25 b JOIN cdict d USING (term_id)
WHERE d.term IN ({in_list})
GROUP BY b.doc_id
ORDER BY score_e4 DESC, doc_id DESC LIMIT {k}"""
    )


# ------------------------------ index cache ------------------------------

_INDEX_CACHE: dict[tuple[int, str], Index] = {}


# bump when CODE_CONFIG changes shape — cached index dirs must not mix
# manifests across config versions (v4: no native postings at all)
CODE_INDEX_VERSION = "v4"


def code_index_dir(sf_dir: str) -> str:
    tag = hashlib.sha1(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    return os.path.join(index_cache_root(), f"code_{CODE_INDEX_VERSION}_{tag}")


def code_index(spark: SparkSession, sf_dir: str) -> Index:
    key = (id(spark), "code:" + os.path.abspath(sf_dir))
    if key in _INDEX_CACHE:
        return _INDEX_CACHE[key]
    idx = build_index(
        spark, code_corpus(spark, sf_dir), CODE_CONFIG, code_index_dir(sf_dir),
        resume=True,
    )
    _INDEX_CACHE[key] = idx
    return idx


# ------------------------------ driver entries ------------------------------

_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_ORACLES: dict[str, str] = {}

_TOPK_TERMS = ["spark", "join", "merge"]


def _q_sha256(spark, sf_dir):
    """Per-row content sha256 through the engine's ingest → docstore
    round-trip (the north rule's per-row invariant: content bytes survive
    the pipeline exactly)."""
    idx = code_index(spark, sf_dir)
    return idx.docstore().select(
        "doc_id", "repo", "path", "commit", F.sha2("content", 256).alias("sha")
    )


_QUERIES["code_sha256"] = _q_sha256
_ORACLES["code_sha256"] = (
    "WITH "
    + CODE_CTE
    + '\nSELECT doc_id, repo, path, "commit", sha256(content) AS sha FROM code'
)


def _q_bm25_term(spark, sf_dir):
    """All BM25 postings of one term, decoded from the baked blocks."""
    idx = code_index(spark, sf_dir)
    matched = (
        idx.dictionary("content").where(F.col("term") == "merge").select("term_id")
    )
    flat = idx.bm25_postings_for("content", matched)
    return flat.select("doc_id", F.col("score").alias("score_e4"))


_QUERIES["code_bm25_term"] = _q_bm25_term
_ORACLES["code_bm25_term"] = (
    "WITH "
    + CODE_CTE
    + "\nSELECT b.doc_id, b.score AS score_e4 FROM cbm25 b "
    "JOIN cdict d USING (term_id) WHERE d.term = 'merge'"
)


def _q_bm25_topk(spark, sf_dir):
    idx = code_index(spark, sf_dir)
    return bm25_topk(idx, "content", _TOPK_TERMS, 20)


_QUERIES["code_bm25_topk"] = _q_bm25_topk
_ORACLES["code_bm25_topk"] = _bm25_topk_sql(_TOPK_TERMS, 20)


def _q_bm25_wand(spark, sf_dir):
    """The OR kind's entry, whose posting-volume rule (bm25._topk) picks
    block-max WAND past bm25.WAND_MIN_POSTINGS — SAME oracle as the
    exhaustive top-k: whichever plan runs must be rank-identical.  The
    loop itself is pinned rank-identical in tests/test_bm25.py with the
    threshold forced."""
    idx = code_index(spark, sf_dir)
    return bm25_auto_topk(idx, "content", _TOPK_TERMS, 20)


_QUERIES["code_bm25_wand"] = _q_bm25_wand
_ORACLES["code_bm25_wand"] = _bm25_topk_sql(_TOPK_TERMS, 20)


def _q_bm25_auto(spark, sf_dir):
    """The OR kind's entry (bm25.bm25_auto_topk): the posting-volume
    rule picks the exhaustive decode or block-max WAND — SAME oracle as
    the exhaustive top-k: whichever plan the rule picks must be
    rank-identical."""
    idx = code_index(spark, sf_dir)
    return bm25_auto_topk(idx, "content", _TOPK_TERMS, 20)


_QUERIES["code_bm25_auto"] = _q_bm25_auto
_ORACLES["code_bm25_auto"] = _bm25_topk_sql(_TOPK_TERMS, 20)


def _bm25_explain_sql(terms: list[str], k: int) -> str:
    in_list = ", ".join(_q(t) for t in terms)
    return (
        "WITH "
        + CODE_CTE
        + f""",
topk AS (
  SELECT b.doc_id, CAST(sum(b.score) AS BIGINT) AS score_e4
  FROM cbm25 b JOIN cdict d USING (term_id)
  WHERE d.term IN ({in_list})
  GROUP BY b.doc_id
  ORDER BY score_e4 DESC, doc_id DESC LIMIT {k}
)
SELECT t.doc_id, d.term, b.score AS term_score_e4, t.score_e4
FROM topk t
JOIN cbm25 b ON b.doc_id = t.doc_id
JOIN cdict d ON d.term_id = b.term_id
WHERE d.term IN ({in_list})
ORDER BY t.score_e4 DESC, t.doc_id DESC, d.term ASC"""
    )


def _q_bm25_explain(spark, sf_dir):
    """Per-term BM25 provenance of the top-k (explain parity for the
    BM25 engine; the native path's explain is `ft_explain_components`)."""
    idx = code_index(spark, sf_dir)
    return bm25_explain_topk(idx, "content", _TOPK_TERMS, 10)


_QUERIES["code_bm25_explain"] = _q_bm25_explain
_ORACLES["code_bm25_explain"] = _bm25_explain_sql(_TOPK_TERMS, 10)


_AND_TERMS = ["spark", "join"]


def _bm25_and_sql(terms: list[str], k: int) -> str:
    in_list = ", ".join(_q(t) for t in sorted(set(terms)))
    n = len(set(terms))
    return (
        "WITH "
        + CODE_CTE
        + f"""
SELECT b.doc_id, CAST(sum(b.score) AS BIGINT) AS score_e4
FROM cbm25 b JOIN cdict d USING (term_id)
WHERE d.term IN ({in_list})
GROUP BY b.doc_id HAVING count(*) = {n}
ORDER BY score_e4 DESC, doc_id DESC LIMIT {k}"""
    )


def _q_bm25_and(spark, sf_dir):
    idx = code_index(spark, sf_dir)
    return bm25_and_topk(idx, "content", _AND_TERMS, 20)


_QUERIES["code_bm25_and"] = _q_bm25_and
_ORACLES["code_bm25_and"] = _bm25_and_sql(_AND_TERMS, 20)


def _q_bm25_and_wand(spark, sf_dir):
    """The intersection kind's entry, whose posting-volume rule picks
    block-max pruning (blocks missing a term are dropped from metadata
    alone) past bm25.WAND_MIN_POSTINGS — same oracle as the exhaustive
    AND (rank identity)."""
    idx = code_index(spark, sf_dir)
    return bm25_and_topk(idx, "content", _AND_TERMS, 20)


_QUERIES["code_bm25_and_wand"] = _q_bm25_and_wand
_ORACLES["code_bm25_and_wand"] = _bm25_and_sql(_AND_TERMS, 20)


# ---- exact phrase (pair-chain prune + positional verify + BM25 score) ----

_PHRASE_TERMS = ["part", "filter", "scan"]


def _bm25_phrase_sql(terms: list[str], k: int) -> str:
    in_list = ", ".join(_q(t) for t in sorted(set(terms)))
    n = len(terms)
    joins = []
    conds = [f"a0.tok = {_q(terms[0])}"]
    for i in range(1, n):
        joins.append(
            f"JOIN cnsp a{i} ON a0.doc_id = a{i}.doc_id AND a{i}.np = a0.np + {i}"
        )
        conds.append(f"a{i}.tok = {_q(terms[i])}")
    return (
        "WITH "
        + CODE_CTE
        + ","
        + CONTENT_POS_CTE
        + f""",
phrase_docs AS (
  SELECT DISTINCT a0.doc_id FROM cnsp a0 {' '.join(joins)}
  WHERE {' AND '.join(conds)}
)
SELECT b.doc_id, CAST(sum(b.score) AS BIGINT) AS score_e4
FROM cbm25 b JOIN cdict d USING (term_id)
WHERE d.term IN ({in_list})
  AND b.doc_id IN (SELECT doc_id FROM phrase_docs)
GROUP BY b.doc_id
ORDER BY score_e4 DESC, doc_id DESC LIMIT {k}"""
    )


def _q_bm25_phrase(spark, sf_dir):
    """Exact 3-token phrase: the pair-chain prunes from the phrase-pair
    table's metadata, a JVM positional verify re-tokenizes only the
    candidates, BM25 scores only the verified docs."""
    idx = code_index(spark, sf_dir)
    return bm25_phrase_topk(idx, "content", _PHRASE_TERMS, 20)


_QUERIES["code_bm25_phrase"] = _q_bm25_phrase
_ORACLES["code_bm25_phrase"] = _bm25_phrase_sql(_PHRASE_TERMS, 20)


# ---- BM25F: weighted multi-field sum (content w=1, path w=3) ----

_BM25F_TERMS = ["merge", "mod42"]
_BM25F_WEIGHTS = {"content": 1, "path": 3}


def _bm25f_sql(terms: list[str], k: int) -> str:
    in_list = ", ".join(_q(t) for t in sorted(set(terms)))
    wc = _BM25F_WEIGHTS["content"]
    wp = _BM25F_WEIGHTS["path"]
    return (
        "WITH "
        + CODE_CTE
        + ","
        + PATH_BM25_CTE
        + f"""
SELECT doc_id, CAST(sum(ws) AS BIGINT) AS score_e4 FROM (
  SELECT b.doc_id, {wc} * b.score AS ws
  FROM cbm25 b JOIN cdict d USING (term_id) WHERE d.term IN ({in_list})
  UNION ALL
  SELECT doc_id, {wp} * score AS ws
  FROM pbm25 WHERE term IN ({in_list})
)
GROUP BY doc_id
ORDER BY score_e4 DESC, doc_id DESC LIMIT {k}"""
    )


def _q_bm25f(spark, sf_dir):
    idx = code_index(spark, sf_dir)
    return bm25f_topk(idx, _BM25F_WEIGHTS, _BM25F_TERMS, 20)


_QUERIES["code_bm25f_topk"] = _q_bm25f
_ORACLES["code_bm25f_topk"] = _bm25f_sql(_BM25F_TERMS, 20)


def _q_bm25f_wand(spark, sf_dir):
    """The BM25F kind's entry, whose posting-volume rule picks block-max
    pruning past bm25.WAND_MIN_POSTINGS — same oracle as the exhaustive
    weighted sum (rank identity); bounds are metadata-only weighted sums
    over the doc-aligned block_no shared across fields."""
    idx = code_index(spark, sf_dir)
    return bm25f_topk(idx, _BM25F_WEIGHTS, _BM25F_TERMS, 20)


_QUERIES["code_bm25f_wand"] = _q_bm25f_wand
_ORACLES["code_bm25f_wand"] = _bm25f_sql(_BM25F_TERMS, 20)


# ---- filtered BM25: metadata predicate ∩ scored hits ----

_FILTER_LANG = "rs"


def _bm25_filtered_sql(terms: list[str], k: int, lang: str) -> str:
    in_list = ", ".join(_q(t) for t in terms)
    return (
        "WITH "
        + CODE_CTE
        + f"""
SELECT b.doc_id, CAST(sum(b.score) AS BIGINT) AS score_e4
FROM cbm25 b
JOIN cdict d USING (term_id)
JOIN code c ON c.doc_id = b.doc_id
WHERE d.term IN ({in_list}) AND c.lang = {_q(lang)}
GROUP BY b.doc_id
ORDER BY score_e4 DESC, b.doc_id DESC LIMIT {k}"""
    )


def _q_bm25_filtered(spark, sf_dir):
    """Filtered search: BM25 OR top-k over docs whose docstore metadata
    passes a predicate (here lang = 'rs'); scores stay corpus-level, the
    predicate + doc_id projection are pushed into the docstore scan and
    the surviving ids semi-join the decoded postings BEFORE the top-k
    aggregation (bm25.bm25_filtered_topk)."""
    idx = code_index(spark, sf_dir)
    return bm25_filtered_topk(
        idx, "content", _TOPK_TERMS, 20, F.col("lang") == _FILTER_LANG
    )


_QUERIES["code_bm25_filtered"] = _q_bm25_filtered
_ORACLES["code_bm25_filtered"] = _bm25_filtered_sql(_TOPK_TERMS, 20, _FILTER_LANG)


def _q_bm25_filtered_wand(spark, sf_dir):
    """The filtered kind's entry, whose posting-volume rule picks
    block-max WAND past bm25.WAND_MIN_POSTINGS — same oracle (rank
    identity): unfiltered block bounds remain valid upper bounds under
    any filter, the exact phase semi-joins the allowed docs."""
    idx = code_index(spark, sf_dir)
    return bm25_filtered_topk(
        idx, "content", _TOPK_TERMS, 20, F.col("lang") == _FILTER_LANG
    )


_QUERIES["code_bm25_filtered_wand"] = _q_bm25_filtered_wand
_ORACLES["code_bm25_filtered_wand"] = _bm25_filtered_sql(_TOPK_TERMS, 20, _FILTER_LANG)


# ---- batched multi-query BM25: the eval-harness shape ----

# Deterministic batch so the oracle can inline it as VALUES.  One query
# carries a term absent from the corpus (ignored, not an error) — the
# single-query paths' missing-term semantics, pinned batch-side.
_BATCH_QUERIES = {
    "q_merge_sort": ["merge", "sort", "batch"],
    "q_scan_filter": ["scan", "filter", "table"],
    "q_spark_join": ["spark", "join"],
    "q_vector_hash": ["vector", "hash", "zz_no_such_term"],
    "q_window_group": ["window", "group", "order"],
}
_BATCH_K = 10


def _bm25_batch_sql(queries: dict, k: int) -> str:
    vals = ", ".join(
        f"({_q(qid)}, {_q(t)})"
        for qid in sorted(queries)
        for t in sorted(set(queries[qid]))
    )
    return (
        "WITH "
        + CODE_CTE
        + f""",
qmap AS (
  SELECT * FROM (VALUES {vals}) AS v(query_id, term)
),
qhits AS (
  SELECT q.query_id, b.doc_id, CAST(sum(b.score) AS BIGINT) AS score_e4
  FROM cbm25 b JOIN cdict d USING (term_id) JOIN qmap q ON d.term = q.term
  GROUP BY q.query_id, b.doc_id
),
ranked AS (
  SELECT query_id, doc_id, score_e4,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score_e4 DESC, doc_id DESC) AS rn
  FROM qhits
)
SELECT query_id, doc_id, score_e4 FROM ranked WHERE rn <= {k}
ORDER BY query_id, score_e4 DESC, doc_id DESC"""
    )


def _q_bm25_batch(spark, sf_dir):
    """Whole query batch in ONE job — one dictionary probe, one block
    scan/decode for the union of matched terms, broadcast query-term
    fan-out, two-phase per-query top-k (see bm25.bm25_batch_topk)."""
    idx = code_index(spark, sf_dir)
    return bm25_batch_topk(idx, "content", _BATCH_QUERIES, _BATCH_K)


_QUERIES["code_bm25_batch"] = _q_bm25_batch
_ORACLES["code_bm25_batch"] = _bm25_batch_sql(_BATCH_QUERIES, _BATCH_K)


# ---- cursor pagination (search_after): pytest-gate extra ----

_PAGE_K = 15


def _q_bm25_page2(spark, sf_dir):
    """Page 2 via the search_after cursor: run page 1, take the last
    (score_e4, doc_id) as the cursor, return the strictly-after page.
    The bounded page-1 collect (k rows) is the cursor handshake any
    client performs; the oracle recomputes both pages as one ranked
    window cut."""
    idx = code_index(spark, sf_dir)
    page1 = bm25_topk(idx, "content", _TOPK_TERMS, _PAGE_K).collect()
    cur = (int(page1[-1]["score_e4"]), int(page1[-1]["doc_id"]))
    return bm25_topk_after(idx, "content", _TOPK_TERMS, _PAGE_K, after=cur)


def _bm25_page2_sql(terms: list[str], k: int) -> str:
    in_list = ", ".join(_q(t) for t in terms)
    return (
        "WITH "
        + CODE_CTE
        + f""",
qhits AS (
  SELECT b.doc_id, CAST(sum(b.score) AS BIGINT) AS score_e4
  FROM cbm25 b JOIN cdict d USING (term_id)
  WHERE d.term IN ({in_list})
  GROUP BY b.doc_id
),
ranked AS (
  SELECT doc_id, score_e4,
         row_number() OVER (ORDER BY score_e4 DESC, doc_id DESC) AS rn
  FROM qhits
)
SELECT doc_id, score_e4 FROM ranked
WHERE rn BETWEEN {k + 1} AND {2 * k}
ORDER BY score_e4 DESC, doc_id DESC"""
    )


def _q_bm25f_auto(spark, sf_dir):
    """Rule-dispatched BM25F (variant of the code_bm25_auto window
    mechanism — extras per the rotation policy): the BM25F kind's entry;
    same oracle as the exhaustive weighted sum."""
    idx = code_index(spark, sf_dir)
    return bm25f_topk(idx, _BM25F_WEIGHTS, _BM25F_TERMS, 20)


# ---- field collapse + more-like-this: the result-diversification and
# ---- query-by-document mechanisms (round 5) ----

_COLLAPSE_PER_GROUP = 2


def _bm25_collapse_sql(terms: list[str], k: int, per_group: int) -> str:
    in_list = ", ".join(_q(t) for t in terms)
    return (
        "WITH "
        + CODE_CTE
        + f""",
scored AS (
  SELECT b.doc_id, CAST(sum(b.score) AS BIGINT) AS score_e4
  FROM cbm25 b JOIN cdict d USING (term_id)
  WHERE d.term IN ({in_list})
  GROUP BY b.doc_id
),
grp AS (
  SELECT s.doc_id, c.repo, s.score_e4,
         row_number() OVER (
           PARTITION BY c.repo ORDER BY s.score_e4 DESC, s.doc_id DESC
         ) AS grp_rank
  FROM scored s JOIN code c USING (doc_id)
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, repo,
       CAST(score_e4 AS BIGINT) AS score_e4,
       CAST(grp_rank AS BIGINT) AS grp_rank
FROM grp WHERE grp_rank <= {per_group}
ORDER BY score_e4 DESC, doc_id DESC LIMIT {k}"""
    )


def _q_bm25_collapse(spark, sf_dir):
    """Field-collapsed top-k: global BM25 top-20 with at most 2 docs per
    repo (bm25.bm25_collapse_topk) — result diversification by a
    docstore field; the per-group cut is a window partitioned by the
    collapse key (a shuffle on exactly that key, never a global
    window)."""
    idx = code_index(spark, sf_dir)
    return bm25_collapse_topk(
        idx, "content", _TOPK_TERMS, 20, group_col="repo",
        per_group=_COLLAPSE_PER_GROUP,
    )


_QUERIES["code_bm25_collapse"] = _q_bm25_collapse
_ORACLES["code_bm25_collapse"] = _bm25_collapse_sql(
    _TOPK_TERMS, 20, _COLLAPSE_PER_GROUP
)

_MLT_DOC_ID = 42
_MLT_N_TERMS = 8
_MLT_MIN_OCC = 3


def _bm25_mlt_sql(src_doc_id: int, k: int, n_terms: int, min_occ: int) -> str:
    return (
        "WITH "
        + CODE_CTE
        + f""",
cand AS (
  SELECT DISTINCT tok AS term FROM cnonsep WHERE doc_id = {src_doc_id}
),
sel AS (
  SELECT d.term_id
  FROM cdict d
  JOIN cterm_counts t USING (term)
  JOIN cand USING (term)
  WHERE t.num_occurences >= {min_occ}
  ORDER BY t.num_occurences ASC, d.term ASC LIMIT {n_terms}
)
SELECT b.doc_id, CAST(sum(b.score) AS BIGINT) AS score_e4
FROM cbm25 b JOIN sel USING (term_id)
WHERE b.doc_id <> {src_doc_id}
GROUP BY b.doc_id
ORDER BY score_e4 DESC, doc_id DESC LIMIT {k}"""
    )


def _q_bm25_mlt(spark, sf_dir):
    """More-like-this: top-20 docs most similar to doc 42 under the
    index's own BM25 — query-by-document (bm25.bm25_mlt_topk).  The
    query terms are the source doc's rarest dictionary terms with
    corpus support >= 3 occurrences (Lucene interesting-terms
    heuristic), the source doc excluded from the result."""
    idx = code_index(spark, sf_dir)
    return bm25_mlt_topk(
        idx, "content", _MLT_DOC_ID, 20,
        n_terms=_MLT_N_TERMS, min_occ=_MLT_MIN_OCC,
    )


_QUERIES["code_bm25_mlt"] = _q_bm25_mlt
_ORACLES["code_bm25_mlt"] = _bm25_mlt_sql(
    _MLT_DOC_ID, 20, _MLT_N_TERMS, _MLT_MIN_OCC
)


# ---- pseudo-relevance feedback (Rocchio expansion): round-5 window entry ----

_PRF_FB_DOCS = 5
_PRF_FB_TERMS = 4
_PRF_MIN_OCC = 3
_PRF_ORIG_W = 2
_PRF_EXP_W = 1


def _bm25_prf_sql(
    terms: list[str], k: int, fb_docs: int, fb_terms: int,
    min_occ: int, orig_w: int, exp_w: int,
) -> str:
    in_list = ", ".join(_q(t) for t in sorted(set(terms)))
    return (
        "WITH "
        + CODE_CTE
        + f""",
q1 AS (
  SELECT b.doc_id, CAST(sum(b.score) AS BIGINT) AS s
  FROM cbm25 b JOIN cdict d USING (term_id)
  WHERE d.term IN ({in_list})
  GROUP BY b.doc_id
  ORDER BY s DESC, doc_id DESC LIMIT {fb_docs}
),
fbtok AS (
  SELECT DISTINCT n.doc_id, n.tok AS term
  FROM cnonsep n JOIN q1 ON n.doc_id = q1.doc_id
),
cand AS (
  SELECT term, count(*) AS fb_df FROM fbtok
  WHERE term NOT IN ({in_list})
  GROUP BY term
),
sel AS (
  SELECT d.term_id
  FROM cand c JOIN cdict d USING (term) JOIN cterm_counts t USING (term)
  WHERE t.num_occurences >= {min_occ}
  ORDER BY c.fb_df DESC, t.num_occurences ASC, c.term ASC LIMIT {fb_terms}
),
wmap AS (
  SELECT term_id, {orig_w} AS w FROM cdict WHERE term IN ({in_list})
  UNION ALL
  SELECT term_id, {exp_w} AS w FROM sel
)
SELECT b.doc_id, CAST(sum(b.score * m.w) AS BIGINT) AS score_e4
FROM cbm25 b JOIN wmap m USING (term_id)
GROUP BY b.doc_id
ORDER BY score_e4 DESC, doc_id DESC LIMIT {k}"""
    )


def _q_bm25_prf(spark, sf_dir):
    """Pseudo-relevance-feedback top-20: plain OR top-5 as the feedback
    set, its 4 best expansion terms (shared-across-feedback first, then
    rarest) added at weight 1 next to the original terms at weight 2,
    one weighted re-decode (bm25.bm25_prf_topk)."""
    idx = code_index(spark, sf_dir)
    return bm25_prf_topk(
        idx, "content", _TOPK_TERMS, 20,
        fb_docs=_PRF_FB_DOCS, fb_terms=_PRF_FB_TERMS, min_occ=_PRF_MIN_OCC,
        orig_w=_PRF_ORIG_W, exp_w=_PRF_EXP_W,
    )


_QUERIES["code_bm25_prf"] = _q_bm25_prf
_ORACLES["code_bm25_prf"] = _bm25_prf_sql(
    _TOPK_TERMS, 20, _PRF_FB_DOCS, _PRF_FB_TERMS,
    _PRF_MIN_OCC, _PRF_ORIG_W, _PRF_EXP_W,
)


# ---- span-near (unordered proximity) retrieval ----

_NEAR_TERMS = ["spark", "join", "merge"]
_NEAR_SLOP = 2  # width = (n-1)+slop = 4; at sf0.01 keeps 29 of 269 AND docs


def _bm25_near_sql(
    terms: list[str], k: int, slop: int, in_order: bool = False
) -> str:
    """Exists-a-combination semantics made literal: one occurrence table
    per term, joined per doc, kept when greatest(np..) - least(np..) <=
    width — exactly the min-cover <= width predicate the engine's
    two-pointer verify computes.  With ``in_order`` the combination must
    also be strictly increasing in query order (the engine's greedy
    chain decides the same exists-a-chain predicate)."""
    in_list = ", ".join(_q(t) for t in sorted(set(terms)))
    n = len(terms)
    width = (n - 1) + slop
    occs = [
        f"(SELECT doc_id, np FROM cnsp WHERE tok = {_q(t)}) a{i}"
        for i, t in enumerate(terms)
    ]
    frm = occs[0] + "".join(f" JOIN {o} USING (doc_id)" for o in occs[1:])
    nps = ", ".join(f"a{i}.np" for i in range(n))
    if in_order:
        chain = " AND ".join(f"a{i}.np < a{i + 1}.np" for i in range(n - 1))
        cond = f"{chain} AND a{n - 1}.np - a0.np <= {width}"
    else:
        cond = f"greatest({nps}) - least({nps}) <= {width}"
    return (
        "WITH "
        + CODE_CTE
        + ","
        + CONTENT_POS_CTE
        + f""",
near_docs AS (
  SELECT DISTINCT a0.doc_id FROM {frm}
  WHERE {cond}
)
SELECT b.doc_id, CAST(sum(b.score) AS BIGINT) AS score_e4
FROM cbm25 b JOIN cdict d USING (term_id)
WHERE d.term IN ({in_list})
  AND b.doc_id IN (SELECT doc_id FROM near_docs)
GROUP BY b.doc_id
ORDER BY score_e4 DESC, doc_id DESC LIMIT {k}"""
    )


def _q_bm25_near(spark, sf_dir):
    """Unordered span-near: all three terms within a 4-rank window
    (slop 2); posting intersection prunes, an Arrow min-cover verify
    decides, BM25 sums over the verified docs only."""
    idx = code_index(spark, sf_dir)
    return bm25_near_topk(idx, "content", _NEAR_TERMS, 20, slop=_NEAR_SLOP)


_QUERIES["code_bm25_near"] = _q_bm25_near
_ORACLES["code_bm25_near"] = _bm25_near_sql(_NEAR_TERMS, 20, _NEAR_SLOP)

_NEAR_ORD_SLOP = 4  # ordered chains are rarer; at sf0.01: 13 docs


def _q_bm25_near_ordered(spark, sf_dir):
    """Ordered span-near (Lucene inOrder=true): the chosen positions
    must be strictly increasing in query order — the verify greedily
    extends each first-term occurrence with the smallest later
    occurrence of every next term."""
    idx = code_index(spark, sf_dir)
    return bm25_near_topk(
        idx, "content", _NEAR_TERMS, 20, slop=_NEAR_ORD_SLOP, in_order=True
    )


# ---- fuzzy BM25 (ES match fuzziness) ----

_FUZZY_TERMS = ["spar", "joib"]  # misspellings of spark / join
_FUZZY_D = 1


def _bm25_fuzzy_sql(terms: list[str], k: int, max_dist: int) -> str:
    conds = " OR ".join(
        f"(length(d.term) BETWEEN {len(t) - max_dist} AND {len(t) + max_dist}"
        f" AND levenshtein(d.term, {_q(t)}) <= {max_dist})"
        for t in sorted(set(terms))
    )
    return (
        "WITH "
        + CODE_CTE
        + f""",
fuzzy_ids AS (
  SELECT DISTINCT term_id FROM cdict d WHERE {conds}
)
SELECT b.doc_id, CAST(sum(b.score) AS BIGINT) AS score_e4
FROM cbm25 b JOIN fuzzy_ids USING (term_id)
GROUP BY b.doc_id
ORDER BY score_e4 DESC, doc_id DESC LIMIT {k}"""
    )


def _q_bm25_fuzzy(spark, sf_dir):
    """ES match fuzziness: 'spar' and 'joib' expand through the
    dictionary at levenshtein <= 1 (JVM codegen scan, length-band
    prefiltered) and the matched-id union runs the plain OR decode."""
    idx = code_index(spark, sf_dir)
    return bm25_fuzzy_topk(idx, "content", _FUZZY_TERMS, 20, max_dist=_FUZZY_D)


# ---- facets over the hit set (ES terms aggregation) ----

_FACET_COLS = ["lang", "repo"]
_FACET_TOP = 5


def _bm25_facets_sql(terms: list[str], cols: list[str], top_n: int) -> str:
    in_list = ", ".join(_q(t) for t in sorted(set(terms)))
    subqs = []
    for c in cols:
        subqs.append(
            f"""(
  SELECT {_q(c)} AS col, CAST(k.{c} AS VARCHAR) AS value,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(h.score_e4) AS BIGINT) AS sum_score_e4,
         (SELECT CAST(count(DISTINCT k2.{c}) AS BIGINT)
          FROM hits h2 JOIN code k2 USING (doc_id)) AS n_values
  FROM hits h JOIN code k USING (doc_id)
  GROUP BY k.{c}
  ORDER BY n_docs DESC, value ASC LIMIT {top_n}
)"""
        )
    return (
        "WITH "
        + CODE_CTE
        + f""",
hits AS (
  SELECT b.doc_id, CAST(sum(b.score) AS BIGINT) AS score_e4
  FROM cbm25 b JOIN cdict d USING (term_id)
  WHERE d.term IN ({in_list})
  GROUP BY b.doc_id
)
"""
        + "\nUNION ALL\n".join(subqs)
    )


def _q_bm25_facets(spark, sf_dir):
    """ES terms aggregation over the FULL hit set: top values of
    lang/repo by hit count with score mass and exact per-column
    cardinality; one map-side-combined groupBy per column over a
    column-pruned docstore join."""
    idx = code_index(spark, sf_dir)
    return bm25_facets(
        idx, "content", _TOPK_TERMS, _FACET_COLS, top_n=_FACET_TOP
    )


# ---- significant terms over the hit sample (JLH) ----

_SIG_TERMS = ["spark", "join"]
_SIG_SAMPLE = 50
_SIG_TOP = 10
_SIG_MIN_FG = 2


def _bm25_sigterms_sql(
    terms: list[str], k_sample: int, top_terms: int, min_fg: int
) -> str:
    """fg = occurrence counts inside the deterministic top-k_sample hit
    set; bg = corpus-wide num_occurences (the dictionary's counts,
    whole-text entries included on BOTH sides); jlh quantized with the
    engine's exact expression tree (explicit DOUBLE casts, *1e4+0.5
    floor)."""
    in_list = ", ".join(_q(t) for t in sorted(set(terms)))
    return (
        "WITH "
        + CODE_CTE
        + f""",
sample AS (
  SELECT b.doc_id, CAST(sum(b.score) AS BIGINT) AS score_e4
  FROM cbm25 b JOIN cdict d USING (term_id)
  WHERE d.term IN ({in_list})
  GROUP BY b.doc_id
  ORDER BY score_e4 DESC, doc_id DESC LIMIT {k_sample}
),
fg0 AS (
  SELECT n.tok AS term, count(*) AS fg
  FROM cnonsep n JOIN sample s USING (doc_id)
  GROUP BY n.tok
),
fgt AS (SELECT sum(fg) AS t FROM fg0),
bgt AS (SELECT sum(num_occurences) AS t FROM cterm_counts),
scored AS (
  SELECT f.term,
         CAST(f.fg AS BIGINT) AS fg,
         CAST(c.num_occurences AS BIGINT) AS bg,
         CAST(floor(
           (CAST(f.fg AS DOUBLE) / CAST(fgt.t AS DOUBLE)
            - CAST(c.num_occurences AS DOUBLE) / CAST(bgt.t AS DOUBLE))
           * ((CAST(f.fg AS DOUBLE) / CAST(fgt.t AS DOUBLE))
              / (CAST(c.num_occurences AS DOUBLE) / CAST(bgt.t AS DOUBLE)))
           * 10000.0 + 0.5) AS BIGINT) AS jlh_e4
  FROM fg0 f
  JOIN cterm_counts c ON c.term = f.term
  CROSS JOIN fgt CROSS JOIN bgt
  WHERE f.term NOT IN ({in_list}) AND f.fg >= {min_fg}
)
SELECT term, fg, bg, jlh_e4 FROM scored
ORDER BY jlh_e4 DESC, term ASC LIMIT {top_terms}"""
    )


def _q_bm25_sigterms(spark, sf_dir):
    """Significant terms (ES significant_terms, sampler-wrapped): JLH
    contrast of the top-50 hit sample's term occurrences against the
    corpus dictionary; the dictionary is scanned once with the
    sample-vocabulary foreground broadcast."""
    idx = code_index(spark, sf_dir)
    return bm25_sigterms(
        idx, "content", _SIG_TERMS,
        k_sample=_SIG_SAMPLE, top_terms=_SIG_TOP, min_fg=_SIG_MIN_FG,
    )


_QUERIES["code_bm25_sigterms"] = _q_bm25_sigterms
_ORACLES["code_bm25_sigterms"] = _bm25_sigterms_sql(
    _SIG_TERMS, _SIG_SAMPLE, _SIG_TOP, _SIG_MIN_FG
)


# ---- best-fragment snippet extraction over the top-k ----

_SNIPPET_TERMS = ["spark", "join", "merge"]
_SNIPPET_K = 15
_SNIPPET_W = 8


def _bm25_snippet_sql(terms: list[str], k: int, window: int) -> str:
    in_list = ", ".join(_q(t) for t in sorted(set(terms)))
    w1 = window - 1
    return (
        "WITH "
        + CODE_CTE
        + ","
        + CONTENT_POS_CTE
        + f""",
topk AS (
  SELECT b.doc_id, CAST(sum(b.score) AS BIGINT) AS score_e4
  FROM cbm25 b JOIN cdict d USING (term_id)
  WHERE d.term IN ({in_list})
  GROUP BY b.doc_id
  ORDER BY score_e4 DESC, doc_id DESC LIMIT {k}
),
m AS (
  SELECT c.doc_id, c.np FROM cnsp c JOIN topk t USING (doc_id)
  WHERE c.tok IN ({in_list})
),
wcnt AS (
  SELECT s.doc_id, s.np AS st, count(*) AS nm
  FROM m s JOIN m x ON x.doc_id = s.doc_id
                   AND x.np >= s.np AND x.np <= s.np + {w1}
  GROUP BY s.doc_id, s.np
),
best AS (
  SELECT doc_id, st, nm,
         row_number() OVER (PARTITION BY doc_id ORDER BY nm DESC, st ASC) AS rn
  FROM wcnt
),
snip AS (
  SELECT b.doc_id, b.nm,
         string_agg(c.tok, ' ' ORDER BY c.np) AS snippet
  FROM best b JOIN cnsp c ON c.doc_id = b.doc_id
                         AND c.np >= b.st AND c.np <= b.st + {w1}
  WHERE b.rn = 1 GROUP BY b.doc_id, b.nm
)
SELECT t.doc_id, t.score_e4, CAST(s.nm AS BIGINT) AS n_matched, s.snippet
FROM topk t JOIN snip s USING (doc_id)
ORDER BY score_e4 DESC, doc_id DESC"""
    )


def _q_bm25_snippet(spark, sf_dir):
    """OR top-k + leftmost maximal-occurrence 8-token fragment per hit;
    the fragment pass touches exactly k docs (literal IN docstore
    prune + one Arrow batch)."""
    idx = code_index(spark, sf_dir)
    return bm25_snippet_topk(
        idx, "content", _SNIPPET_TERMS, _SNIPPET_K, window=_SNIPPET_W
    )


_QUERIES["code_bm25_snippet"] = _q_bm25_snippet
_ORACLES["code_bm25_snippet"] = _bm25_snippet_sql(
    _SNIPPET_TERMS, _SNIPPET_K, _SNIPPET_W
)


# ---- trigram-accelerated regex search (grep at corpus scale) ----

_REGEX_PATTERN = r"merge (sort|join)"
#: every alternative of this one carries a branch with no >= 3-char
#: literal ("qq" is 2 chars after the planner's run-splitting), so the
#: planner refuses and the engine takes the full-scan fallback — same
#: answer, honest cost (pytest extra pins the fallback's correctness)
_REGEX_FULLSCAN_PATTERN = r"(spark|qq)"


def _regex_sql(pattern: str) -> str:
    return (
        "WITH "
        + CODE_BASE_CTE
        + f"""
SELECT doc_id, path FROM code
WHERE regexp_matches(content, {_q(pattern)})
ORDER BY doc_id"""
    )


def _q_regex_search(spark, sf_dir):
    """Content grep: all docs whose content matches the regex, found by
    trigram-index pruning (regex → required-trigram AND/OR query →
    partition-pruned posting probe → rlike verify on the candidate
    set only; trigram.regex_search — the Cox codesearch design)."""
    from veloci_spark.trigram import regex_search

    idx = code_index(spark, sf_dir)
    return regex_search(idx, "content", _REGEX_PATTERN)


_QUERIES["code_regex_search"] = _q_regex_search
_ORACLES["code_regex_search"] = _regex_sql(_REGEX_PATTERN)


def _q_regex_full_scan(spark, sf_dir):
    """Unindexable pattern (an alternative with no >= 3-char literal):
    the planner returns None and regex_search full-scans — correctness
    of the fallback arm."""
    from veloci_spark.trigram import plan_regex, regex_search

    assert plan_regex(_REGEX_FULLSCAN_PATTERN) is None
    idx = code_index(spark, sf_dir)
    return regex_search(idx, "content", _REGEX_FULLSCAN_PATTERN)


_EXTRA_QUERIES = {
    "code_bm25_facets": _q_bm25_facets,
    "code_bm25_fuzzy": _q_bm25_fuzzy,
    "code_bm25_page2": _q_bm25_page2,
    "code_bm25f_auto": _q_bm25f_auto,
    "code_bm25_near_ordered": _q_bm25_near_ordered,
    "code_regex_full_scan": _q_regex_full_scan,
}
_EXTRA_ORACLES = {
    "code_bm25_facets": _bm25_facets_sql(_TOPK_TERMS, _FACET_COLS, _FACET_TOP),
    "code_bm25_fuzzy": _bm25_fuzzy_sql(_FUZZY_TERMS, 20, _FUZZY_D),
    "code_bm25_page2": _bm25_page2_sql(_TOPK_TERMS, _PAGE_K),
    "code_bm25f_auto": _bm25f_sql(_BM25F_TERMS, 20),
    "code_bm25_near_ordered": _bm25_near_sql(
        _NEAR_TERMS, 20, _NEAR_ORD_SLOP, in_order=True
    ),
    "code_regex_full_scan": _regex_sql(_REGEX_FULLSCAN_PATTERN),
}


def code_queries():
    return dict(_QUERIES)


def code_oracles():
    return dict(_ORACLES)


def code_extra_queries():
    return dict(_EXTRA_QUERIES)


def code_extra_oracles():
    return dict(_EXTRA_ORACLES)
