"""Driver-contract queries: Spark implementations + DuckDB oracle SQL.

Each query here exists twice: a Spark DataFrame implementation running
on the real engine (index built from the corpus parquet, cached across
queries), and an equivalent DuckDB SQL string (oracle.py) recomputing
the same result from the raw table. The driver runs both at sf=0.01 and
compares row-count + schema + order-insensitive value hash — so every
float score is quantized to ``score_e4`` integers and every result has a
deterministic tie-break, in BOTH engines.
"""

from __future__ import annotations

import hashlib
import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from veloci_spark.build import build_index
from veloci_spark.config import FieldConfig, IndexConfig
from veloci_spark.executor import _Executor, search
from veloci_spark.index import Index
from veloci_spark.oracle import (
    and_hits_cte,
    fulltext_cte,
    leaf_hits_cte,
    matched_cte,
    or_hits_cte,
    topk_select,
)
from veloci_spark.request import (
    AndNode,
    BoostPart,
    FacetRequest,
    OrNode,
    PhraseBoost,
    Request,
    SearchPart,
)
from veloci_spark.scoring import score_e4, sql_score_e4

INDEX_CACHE_ROOT = os.environ.get(
    "VELOCI_SPARK_INDEX_CACHE", "/tmp/veloci_spark_index_cache"
)

DOC_CONFIG = IndexConfig(
    fields=(FieldConfig("text", phrase_pairs=True), FieldConfig("lang")),
    block_docs=1024,
)


_INDEX_CACHE: dict[tuple[int, str], Index] = {}


def documents_index(spark: SparkSession, sf_dir: str) -> Index:
    """Build (once; resumable on-disk cache + in-process handle cache)
    the index over sf_dir/documents.parquet."""
    key = (id(spark), os.path.abspath(sf_dir))
    if key in _INDEX_CACHE:
        return _INDEX_CACHE[key]
    tag = hashlib.sha1(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    out = os.path.join(INDEX_CACHE_ROOT, f"documents_v2_{tag}")
    corpus = read_fanned(spark, os.path.join(sf_dir, "documents.parquet"))
    idx = build_index(spark, corpus, DOC_CONFIG, out, resume=True)
    _INDEX_CACHE[key] = idx
    return idx


def _quantized_topk(all_hits: DataFrame, top: int, skip: int = 0) -> DataFrame:
    out = (
        all_hits.select("doc_id", score_e4(F.col("score")).alias("score_e4"))
        .orderBy(F.desc("score_e4"), F.desc("doc_id"))
        .limit(top + skip)
    )
    if skip:
        out = out.offset(skip)
    return out


def _run_request(
    spark: SparkSession, sf_dir: str, request: Request, top: int, skip: int = 0
) -> DataFrame:
    idx = documents_index(spark, sf_dir)
    res = search(idx, request)
    return _quantized_topk(res.all_hits, top, skip)


# ---------------------------------------------------------------------------
# Query definitions: one (spark_fn, oracle_sql) pair per name
# ---------------------------------------------------------------------------

_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_ORACLES: dict[str, str] = {}
# pytest-only entries (kept out of the driver's 50-entry window)
_EXTRA_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_EXTRA_ORACLES: dict[str, str] = {}


def _register(name, spark_fn, oracle: str | None, extra: bool = False):
    (_EXTRA_QUERIES if extra else _QUERIES)[name] = spark_fn
    if oracle is not None:
        (_EXTRA_ORACLES if extra else _ORACLES)[name] = oracle


def _with_cte(*ctes: str) -> str:
    return "WITH " + ",\n".join([fulltext_cte()] + [c for c in ctes if c])


# ---- dictionary (validates tokenize + count + rank-id assignment) ----------

def _q_dictionary(spark, sf_dir):
    idx = documents_index(spark, sf_dir)
    return idx.dictionary("text").select("term", "term_id", "num_occurences")


_register(
    "ft_dictionary",
    _q_dictionary,
    _with_cte() + "\nSELECT term, term_id, num_occurences FROM dict",
)


# ---- posting lists for one term (validates scores + the block arrays) ------

def _q_postings(spark, sf_dir):
    idx = documents_index(spark, sf_dir)
    terms = idx.dictionary("text").where(F.col("term") == "spark")
    return idx.postings_for("text", terms).select("term_id", "doc_id", "score")


_register(
    "ft_postings_spark_term",
    _q_postings,
    _with_cte()
    + "\nSELECT p.term_id, p.doc_id, p.score FROM postings p "
    "JOIN dict d USING (term_id) WHERE d.term = 'spark'",
)


# ---- single exact token ----------------------------------------------------

def _mk_exact(term: str, top: int = 20):
    def fn(spark, sf_dir, term=term, top=top):
        return _run_request(
            spark, sf_dir, Request(search=SearchPart(field="text", term=term)), top
        )

    sql = (
        _with_cte(leaf_hits_cte(SearchPart(field="text", term=term), "m0", "h0"))
        + "\n"
        + topk_select("h0", top)
    )
    return fn, sql


fn, sql = _mk_exact("spark")
_register("ft_exact_token", fn, sql)
fn, sql = _mk_exact("filter")
_register("ft_exact_token_2", fn, sql, extra=True)


# ---- fuzzy ------------------------------------------------------------------

def _q_fuzzy(spark, sf_dir):
    part = SearchPart(field="text", term="qery", levenshtein=1)
    return _run_request(spark, sf_dir, Request(search=part), 20)


_register(
    "ft_fuzzy_d1",
    _q_fuzzy,
    _with_cte(
        leaf_hits_cte(SearchPart(field="text", term="qery", levenshtein=1), "m0", "h0")
    )
    + "\n"
    + topk_select("h0", 20),
)


# ---- prefix -----------------------------------------------------------------

def _q_prefix(spark, sf_dir):
    part = SearchPart(field="text", term="sca", starts_with=True)
    return _run_request(spark, sf_dir, Request(search=part), 20)


_register(
    "ft_prefix",
    _q_prefix,
    _with_cte(
        leaf_hits_cte(SearchPart(field="text", term="sca", starts_with=True), "m0", "h0")
    )
    + "\n"
    + topk_select("h0", 20),
)


# ---- fuzzy prefix (starts_with + levenshtein, the FST automaton's
# ---- .starts_with() variant) -------------------------------------------------

def _q_fuzzy_prefix(spark, sf_dir):
    part = SearchPart(field="text", term="scann", starts_with=True, levenshtein=1)
    return _run_request(spark, sf_dir, Request(search=part), 20)


_register(
    "ft_fuzzy_prefix",
    _q_fuzzy_prefix,
    _with_cte(
        leaf_hits_cte(
            SearchPart(field="text", term="scann", starts_with=True, levenshtein=1),
            "m0",
            "h0",
        )
    )
    + "\n"
    + topk_select("h0", 20),
)


# ---- per-leaf boost (options.boost on a search part) --------------------------

def _q_leaf_boost(spark, sf_dir):
    req = Request(
        search=OrNode(
            (
                SearchPart(
                    field="text",
                    term="spark",
                    boosts=(BoostPart(path="n_chars", boost_fun="Log10", param=1.0),),
                ),
                SearchPart(field="text", term="join"),
            )
        )
    )
    return _run_request(spark, sf_dir, req, 20)


_register(
    "ft_leaf_boost",
    _q_leaf_boost,
    _with_cte(
        leaf_hits_cte(SearchPart(field="text", term="spark"), "m0", "h0raw"),
        "h0 AS (SELECT h.doc_id, h.score * log10(CAST(c.n_chars AS DOUBLE) + 1.0) AS score "
        "FROM h0raw h JOIN documents c ON h.doc_id = c.doc_id)",
        leaf_hits_cte(SearchPart(field="text", term="join"), "m1", "h1"),
        or_hits_cte([("h0", 1), ("h1", 0)], "hits"),
    )
    + "\n"
    + topk_select("hits", 20),
)


# ---- regex ------------------------------------------------------------------

def _q_regex(spark, sf_dir):
    part = SearchPart(field="text", term=".*oin.*", is_regex=True)
    return _run_request(spark, sf_dir, Request(search=part), 20)


_register(
    "ft_regex",
    _q_regex,
    _with_cte(
        leaf_hits_cte(
            SearchPart(field="text", term=".*oin.*", is_regex=True), "m0", "h0"
        )
    )
    + "\n"
    + topk_select("h0", 20),
)


# ---- two-term OR (distinct-terms² boost) -------------------------------------

def _q_or(spark, sf_dir):
    req = Request(
        search=OrNode(
            (
                SearchPart(field="text", term="spark"),
                SearchPart(field="text", term="join"),
            )
        )
    )
    return _run_request(spark, sf_dir, req, 20)


_register(
    "ft_or_two_terms",
    _q_or,
    _with_cte(
        leaf_hits_cte(SearchPart(field="text", term="spark"), "m0", "h0"),
        leaf_hits_cte(SearchPart(field="text", term="join"), "m1", "h1"),
        or_hits_cte([("h0", 1), ("h1", 0)], "hits"),
    )
    + "\n"
    + topk_select("hits", 20),
)


# ---- two-term AND -----------------------------------------------------------

def _q_and(spark, sf_dir):
    req = Request(
        search=AndNode(
            (
                SearchPart(field="text", term="spark"),
                SearchPart(field="text", term="join"),
            )
        )
    )
    return _run_request(spark, sf_dir, req, 20)


_register(
    "ft_and_two_terms",
    _q_and,
    _with_cte(
        leaf_hits_cte(SearchPart(field="text", term="spark"), "m0", "h0"),
        leaf_hits_cte(SearchPart(field="text", term="join"), "m1", "h1"),
        and_hits_cte(["h0", "h1"], "hits"),
    )
    + "\n"
    + topk_select("hits", 20),
)


# ---- AND with lang filter (filter must not affect scores) ---------------------

def _q_and_filter(spark, sf_dir):
    req = Request(
        search=AndNode(
            (
                SearchPart(field="text", term="spark"),
                SearchPart(field="text", term="join"),
            )
        ),
        filter=SearchPart(field="lang", term="en"),
    )
    return _run_request(spark, sf_dir, req, 20)


_register(
    "ft_and_with_filter",
    _q_and_filter,
    _with_cte(
        leaf_hits_cte(SearchPart(field="text", term="spark"), "m0", "h0"),
        leaf_hits_cte(SearchPart(field="text", term="join"), "m1", "h1"),
        and_hits_cte(["h0", "h1"], "hits0"),
        "hits AS (SELECT h.* FROM hits0 h JOIN documents c ON h.doc_id = c.doc_id "
        "WHERE lower(c.lang) = 'en')",
    )
    + "\n"
    + topk_select("hits", 20),
)


# ---- column boost (Log10 by n_chars) ------------------------------------------

def _q_boost(spark, sf_dir):
    req = Request(
        search=SearchPart(field="text", term="spark"),
        boost=(BoostPart(path="n_chars", boost_fun="Log10", param=1.0),),
    )
    return _run_request(spark, sf_dir, req, 20)


_register(
    "ft_boost_log10",
    _q_boost,
    _with_cte(
        leaf_hits_cte(SearchPart(field="text", term="spark"), "m0", "h0"),
        "hits AS (SELECT h.doc_id, h.score * log10(CAST(c.n_chars AS DOUBLE) + 1.0) AS score "
        "FROM h0 h JOIN documents c ON h.doc_id = c.doc_id)",
    )
    + "\n"
    + topk_select("hits", 20),
)


# ---- top-k with skip -----------------------------------------------------------

def _q_skip(spark, sf_dir):
    return _run_request(
        spark, sf_dir, Request(search=SearchPart(field="text", term="spark")), 10, 5
    )


_register(
    "ft_topk_skip",
    _q_skip,
    _with_cte(leaf_hits_cte(SearchPart(field="text", term="spark"), "m0", "h0"))
    + "\n"
    + topk_select("h0", 10, skip=5),
)


# ---- phrase boost ----------------------------------------------------------------

def _q_phrase(spark, sf_dir):
    req = Request(
        search=OrNode(
            (
                SearchPart(field="text", term="spark"),
                SearchPart(field="text", term="join"),
            )
        ),
        phrase_boosts=(PhraseBoost(field="text", term1="spark", term2="join"),),
    )
    return _run_request(spark, sf_dir, req, 20)


_PHRASE_SQL = (
    _with_cte(
        leaf_hits_cte(SearchPart(field="text", term="spark"), "m0", "h0"),
        leaf_hits_cte(SearchPart(field="text", term="join"), "m1", "h1"),
        or_hits_cte([("h0", 1), ("h1", 0)], "hits0"),
        # adjacent non-separator token pairs (separator runs skipped in the
        # chain — create.rs:251-263): filter separator runs, re-rank by pos
        """nonsep AS (
  SELECT doc_id, tok, pos,
         row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS np
  FROM toks WHERE NOT regexp_matches(substr(tok, 1, 1), {SEPPAT})
),
pair_docs AS (
  SELECT DISTINCT a.doc_id FROM nonsep a JOIN nonsep b
  ON a.doc_id = b.doc_id AND b.np = a.np + 1
  JOIN dict d1 ON a.tok = d1.term JOIN dict d2 ON b.tok = d2.term
  WHERE lower(d1.term) = 'spark' AND lower(d2.term) = 'join'
),
hits AS (
  SELECT h.doc_id,
         CASE WHEN p.doc_id IS NOT NULL THEN h.score * 5.0 ELSE h.score END AS score
  FROM hits0 h LEFT JOIN pair_docs p ON h.doc_id = p.doc_id
)""",
    )
    + "\n"
    + topk_select("hits", 20)
)

_register("ft_phrase_boost", _q_phrase, _PHRASE_SQL)


# ---- block-max WAND top-k (same oracle as the exhaustive OR: the pruned
# ---- path must be rank-identical) ---------------------------------------

def _q_wand(spark, sf_dir):
    from veloci_spark.wand import wand_or_topk

    idx = documents_index(spark, sf_dir)
    node = OrNode(
        (
            SearchPart(field="text", term="spark"),
            SearchPart(field="text", term="join"),
        )
    )
    out = wand_or_topk(idx, node, k=20)
    return (
        out.select("doc_id", score_e4(F.col("score")).alias("score_e4"))
        .orderBy(F.desc("score_e4"), F.desc("doc_id"))
    )


_register(
    "ft_wand_topk",
    _q_wand,
    _with_cte(
        leaf_hits_cte(SearchPart(field="text", term="spark"), "m0", "h0"),
        leaf_hits_cte(SearchPart(field="text", term="join"), "m1", "h1"),
        or_hits_cte([("h0", 1), ("h1", 0)], "hits"),
    )
    + "\n"
    + topk_select("hits", 20),
)


# ---- facets ------------------------------------------------------------------------

def _q_facet(spark, sf_dir):
    idx = documents_index(spark, sf_dir)
    res = search(
        idx,
        Request(
            search=SearchPart(field="text", term="spark"),
            facets=(FacetRequest(field="lang", top=10),),
        ),
    )
    return res.facets["lang"].select(
        F.col("value").alias("lang"), F.col("count").alias("cnt")
    )


_register(
    "ft_facet_lang",
    _q_facet,
    _with_cte(leaf_hits_cte(SearchPart(field="text", term="spark"), "m0", "h0"))
    + "\nSELECT c.lang AS lang, count(*) AS cnt FROM h0 h "
    "JOIN documents c ON h.doc_id = c.doc_id GROUP BY c.lang "
    "ORDER BY cnt DESC, lang ASC LIMIT 10",
)


# ---- scored numeric aggregations over the hit set (round 5) ----------------

_HIST_WIDTH = 100


def _agg_request() -> "Request":
    return Request(
        search=OrNode(
            (
                SearchPart(field="text", term="spark"),
                SearchPart(field="text", term="join"),
            )
        )
    )


def _q_hits_histogram(spark, sf_dir):
    """Fixed-width histogram of n_chars over the OR query's matched set
    (aggs.hits_histogram): (bucket, n_docs, sum_score_e4) — the
    Elasticsearch histogram-agg shape, score mass per bucket."""
    from veloci_spark.aggs import hits_histogram

    idx = documents_index(spark, sf_dir)
    return hits_histogram(idx, _agg_request(), "n_chars", _HIST_WIDTH)


def _q_hits_stats(spark, sf_dir):
    """One-row min/max/sum/count of n_chars + score mass over the same
    matched set (aggs.hits_stats; integer sums, not avg, so the row is
    hash-exact)."""
    from veloci_spark.aggs import hits_stats

    idx = documents_index(spark, sf_dir)
    return hits_stats(idx, _agg_request(), "n_chars")


_AGG_HITS_CTE = _with_cte(
    leaf_hits_cte(SearchPart(field="text", term="spark"), "m0", "h0"),
    leaf_hits_cte(SearchPart(field="text", term="join"), "m1", "h1"),
    or_hits_cte([("h0", 1), ("h1", 0)], "hits"),
)

_register(
    "ft_hits_histogram",
    _q_hits_histogram,
    _AGG_HITS_CTE
    + f"\nSELECT CAST(floor(d.n_chars / {float(_HIST_WIDTH)!r}) AS BIGINT) AS bucket, "
    "CAST(count(*) AS BIGINT) AS n_docs, "
    f"CAST(sum({sql_score_e4('h.score')}) AS BIGINT) AS sum_score_e4 "
    "FROM hits h JOIN documents d USING (doc_id) "
    "GROUP BY bucket ORDER BY bucket",
)

_register(
    "ft_hits_stats",
    _q_hits_stats,
    _AGG_HITS_CTE
    + "\nSELECT CAST(count(*) AS BIGINT) AS n_hits, "
    "CAST(min(d.n_chars) AS BIGINT) AS min_v, "
    "CAST(max(d.n_chars) AS BIGINT) AS max_v, "
    "CAST(sum(d.n_chars) AS BIGINT) AS sum_v, "
    f"CAST(sum({sql_score_e4('h.score')}) AS BIGINT) AS sum_score_e4 "
    "FROM hits h JOIN documents d USING (doc_id)",
    extra=True,
)


# ---- suggest -----------------------------------------------------------------------

def _q_suggest(spark, sf_dir):
    from veloci_spark.suggest import suggest

    idx = documents_index(spark, sf_dir)
    out = suggest(idx, "s", fields=["text"], top=10)
    return out.select("text", score_e4(F.col("score")).alias("score_e4"))


_register(
    "ft_suggest",
    _q_suggest,
    # suggestions are LOWERCASED and case-deduped keeping the best score
    # (reference return_term_lowercase + same-text merge,
    # search_field.rs:175-216); ties rank text-DESC (see suggest.py)
    _with_cte(
        "m0 AS (SELECT lower(term) AS text, 2.0 / (log2(CAST(levenshtein(lower(term), 's') AS DOUBLE) + 1.0) + 0.2) AS term_score "
        "FROM dict WHERE substr(lower(term), 1, 1) = 's')"
    )
    + "\nSELECT text, "
    + sql_score_e4("max(term_score)")
    + " AS score_e4 FROM m0 GROUP BY text ORDER BY max(term_score) DESC, text DESC LIMIT 10",
)


# ---- token_values boost (static per-token score boost) ----------------------

def _q_token_values(spark, sf_dir):
    from veloci_spark.token_values import add_token_values

    idx = documents_index(spark, sf_dir)
    add_token_values(idx, "text", [("spark", 20.0)])
    part = SearchPart(
        field="text",
        term="spark",
        token_value=BoostPart(path="", boost_fun="Multiply", param=1.0),
    )
    return _run_request(spark, sf_dir, Request(search=part), 20)


_register(
    "ft_token_values_boost",
    _q_token_values,
    _with_cte(
        # matched terms with the static token boost applied to the TERM
        # score (add_boost Multiply: score *= value+param,
        # search_field.rs:391-395 + boost.rs:283-377)
        "m0raw AS (SELECT term_id, term, 2.0 / (CAST(levenshtein(lower(term), 'spark') AS DOUBLE) + 0.2) "
        "AS term_score FROM dict WHERE lower(term) = 'spark')",
        "m0 AS (SELECT term_id, term_score * "
        "(CASE WHEN term = 'spark' THEN 20.0 + 1.0 ELSE 1.0 END) AS term_score FROM m0raw)",
        "h0 AS (SELECT p.doc_id, max(m.term_score * (CAST(p.score AS DOUBLE) / 100.0)) AS score "
        "FROM postings p JOIN m0 m USING (term_id) GROUP BY p.doc_id)",
    )
    + "\n"
    + topk_select("h0", 20),
)


# ---- explain provenance (numeric components, oracle-comparable) ------------

def _q_explain(spark, sf_dir):
    from veloci_spark.executor import leaf_explain_components

    idx = documents_index(spark, sf_dir)
    part = SearchPart(field="text", term="spark")
    res = search(idx, Request(search=part))
    topk = _quantized_topk(res.all_hits, 20)
    comp = leaf_explain_components(idx, part, topk.select("doc_id"))
    return comp.select(
        "doc_id",
        "term_id",
        score_e4(F.col("term_score")).alias("term_score_e4"),
        score_e4(F.col("anchor_score")).alias("anchor_score_e4"),
        score_e4(F.col("final_score")).alias("final_e4"),
    )


_register(
    "ft_explain_components",
    _q_explain,
    _with_cte(
        leaf_hits_cte(SearchPart(field="text", term="spark"), "m0", "h0"),
        "tk AS (SELECT doc_id FROM h0 ORDER BY "
        + sql_score_e4("score")
        + " DESC, doc_id DESC LIMIT 20)",
    )
    + "\nSELECT p.doc_id, p.term_id, "
    + sql_score_e4("m.term_score")
    + " AS term_score_e4, "
    + sql_score_e4("CAST(p.score AS DOUBLE) / 100.0")
    + " AS anchor_score_e4, "
    + sql_score_e4("m.term_score * (CAST(p.score AS DOUBLE) / 100.0)")
    + " AS final_e4 FROM postings p JOIN m0 m USING (term_id) "
    "JOIN tk USING (doc_id)",
)


# ---------------------------------------------------------------------------
# Nested 1:n document model over orders + lineitem (round 2): one document
# per order (subset o_orderkey % 20 = 0), items[] = one synthesized text
# value per lineitem — the jmdict-like shape of the reference's flagship
# fixture (/root/reference/tests/all/tests.rs:47-245) derived
# deterministically from the driver's own tables so DuckDB can recompute
# every result.
# ---------------------------------------------------------------------------

from veloci_spark.oracle import nested_fulltext_cte
from veloci_spark.pipeline.common import read_fanned

NESTED_CONFIG = IndexConfig(
    fields=(FieldConfig("items[].comment"),),
    block_docs=1024,
)

_NESTED_ORDER_MOD = 20


def nested_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from veloci_spark.ids import assign_rank_ids

    orders = (
        # NOT read_fanned: the nested assembly immediately groupBys/joins
        # (shuffle parallelism regardless), so a fan-out repartition of
        # the wide lineitem rows is pure overhead here (measured +2-3 s
        # on the nested build)
        spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        .where(F.col("o_orderkey") % _NESTED_ORDER_MOD == 0)
        .select("o_orderkey")
    )
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).where(
        F.col("l_orderkey") % _NESTED_ORDER_MOD == 0
    )
    # the synthesized per-lineitem text — the same expression, character
    # for character, as oracle.NESTED_TEXT_SQL
    comment = F.concat(
        F.lit("ship "),
        F.col("l_returnflag"),
        F.lit(" "),
        F.col("l_linestatus"),
        F.lit(" part p"),
        (F.col("l_partkey") % 37).cast("string"),
        F.lit(" supp s"),
        (F.col("l_suppkey") % 13).cast("string"),
    )
    items_src = li.select(
        "l_orderkey",
        F.struct(
            F.col("l_linenumber").alias("ln"),
            comment.alias("comment"),
            F.col("l_quantity").cast("double").alias("qty"),
            F.col("l_returnflag").alias("flag"),
        ).alias("item"),
    )
    items = items_src.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list("item")).alias("raw")
    )
    nested = orders.join(
        items, orders["o_orderkey"] == items["l_orderkey"], "left"
    ).select(
        "o_orderkey",
        F.transform(
            "raw",
            lambda s: F.struct(
                s["comment"].alias("comment"),
                s["qty"].alias("qty"),
                s["flag"].alias("flag"),
            ),
        ).alias("items"),
    )
    out = assign_rank_ids(nested, ["o_orderkey"], "doc_id")
    return out


def nested_orders_index(spark: SparkSession, sf_dir: str) -> Index:
    key = (id(spark), "nested:" + os.path.abspath(sf_dir))
    if key in _INDEX_CACHE:
        return _INDEX_CACHE[key]
    tag = hashlib.sha1(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    out = os.path.join(INDEX_CACHE_ROOT, f"orders_nested_v2_{tag}")
    cfg = NESTED_CONFIG
    # doc_id pre-assigned by nested_corpus; keep it
    corpus = nested_corpus(spark, sf_dir)
    idx = build_index(spark, corpus, cfg, out, resume=True)
    _INDEX_CACHE[key] = idx
    return idx


def _with_nested_cte(*ctes: str) -> str:
    return "WITH " + ",\n".join(
        [nested_fulltext_cte(order_mod=_NESTED_ORDER_MOD)]
        + [c for c in ctes if c]
    )


# ---- per-value scored search over the 1:n path ----------------------------

def _q_nested_search(spark, sf_dir):
    idx = nested_orders_index(spark, sf_dir)
    res = search(
        idx, Request(search=SearchPart(field="items[].comment", term="p5"))
    )
    return _quantized_topk(res.all_hits, 20)


_register(
    "ft_nested_search",
    _q_nested_search,
    _with_nested_cte(
        leaf_hits_cte(SearchPart(field="items[].comment", term="p5"), "m0", "h0")
    )
    + "\n"
    + topk_select("h0", 20),
)


# ---- 1:n sibling boost (BoostToAnchor diamond) -----------------------------

def _q_nested_boost(spark, sf_dir):
    idx = nested_orders_index(spark, sf_dir)
    res = search(
        idx,
        Request(
            search=SearchPart(field="items[].comment", term="p5"),
            boost=(BoostPart(path="items[].qty", boost_fun="Multiply", param=1.0),),
        ),
    )
    return _quantized_topk(res.all_hits, 20)


_register(
    "ft_nested_boost_1n",
    _q_nested_boost,
    _with_nested_cte(
        leaf_hits_cte(SearchPart(field="items[].comment", term="p5"), "m0", "h0"),
        # token -> containing (tokenized) text values -> element instances
        # -> product of sibling qty+1 per doc (apply per boost entry,
        # boost.rs:255-281)
        """routed AS (
  SELECT DISTINCT tk.text FROM toks tk
  JOIN dict d ON tk.tok = d.term
  JOIN m0 m ON m.term_id = d.term_id
),
inst AS (
  SELECT DISTINCT v.doc_id, v.vid, v.qty
  FROM vals v JOIN routed r ON v.text = r.text
),
bfac AS (SELECT doc_id, product(qty + 1.0) AS f FROM inst GROUP BY doc_id),
hits AS (
  SELECT h.doc_id,
         CASE WHEN b.f IS NOT NULL THEN h.score * b.f ELSE h.score END AS score
  FROM h0 h LEFT JOIN bfac b USING (doc_id)
)""",
    )
    + "\n"
    + topk_select("hits", 20),
)


# ---- facet over the 1:n path (counts per value occurrence) -----------------

def _q_nested_facet(spark, sf_dir):
    idx = nested_orders_index(spark, sf_dir)
    res = search(
        idx,
        Request(
            search=SearchPart(field="items[].comment", term="p5"),
            facets=(FacetRequest(field="items[].flag", top=10),),
        ),
    )
    return res.facets["items[].flag"].select(
        F.col("value").alias("flag"), F.col("count").alias("cnt")
    )


_register(
    "ft_nested_facet",
    _q_nested_facet,
    _with_nested_cte(
        leaf_hits_cte(SearchPart(field="items[].comment", term="p5"), "m0", "h0")
    )
    + "\nSELECT v.flag AS flag, count(*) AS cnt FROM h0 h "
    "JOIN vals v ON v.doc_id = h.doc_id "
    "GROUP BY v.flag ORDER BY cnt DESC, flag ASC LIMIT 10",
)


# ---- per-text-value locality boost ------------------------------------------

def _q_nested_locality(spark, sf_dir):
    idx = nested_orders_index(spark, sf_dir)
    res = search(
        idx,
        Request(
            search=OrNode(
                (
                    SearchPart(field="items[].comment", term="p5"),
                    SearchPart(field="items[].comment", term="s3"),
                )
            ),
            text_locality=True,
        ),
    )
    return _quantized_topk(res.all_hits, 20)


_register(
    "ft_nested_locality",
    _q_nested_locality,
    _with_nested_cte(
        leaf_hits_cte(SearchPart(field="items[].comment", term="p5"), "m0", "h0"),
        leaf_hits_cte(SearchPart(field="items[].comment", term="s3"), "m1", "h1"),
        or_hits_cte([("h0", 1), ("h1", 0)], "hits0"),
        # 2n² where n = matched-term->text edges on the SAME text value
        # (boost.rs:34-57); best factor per doc (boost.rs:23-30)
        """edges AS (
  SELECT * FROM (
    SELECT DISTINCT d.term_id, tk.text FROM toks tk
    JOIN dict d ON tk.tok = d.term JOIN m0 m ON m.term_id = d.term_id
  ) UNION ALL
  SELECT * FROM (
    SELECT DISTINCT d.term_id, tk.text FROM toks tk
    JOIN dict d ON tk.tok = d.term JOIN m1 m ON m.term_id = d.term_id
  )
),
ntext AS (SELECT text, count(*) AS n FROM edges GROUP BY text HAVING count(*) >= 2),
dfac AS (
  SELECT v.doc_id, max(2.0 * n.n * n.n) AS f
  FROM vals v JOIN ntext n ON v.text = n.text GROUP BY v.doc_id
),
hits AS (
  SELECT h.doc_id,
         CASE WHEN d.f IS NOT NULL THEN h.score * d.f ELSE h.score END AS score
  FROM hits0 h LEFT JOIN dfac d USING (doc_id)
)""",
    )
    + "\n"
    + topk_select("hits", 20),
)


# ---- highlight entry point (texts of matched tokens) ------------------------

def _q_highlight_texts(spark, sf_dir):
    from veloci_spark.suggest import highlight_entry

    idx = nested_orders_index(spark, sf_dir)
    out = highlight_entry(
        idx, SearchPart(field="items[].comment", term="p5"), top=30
    )
    return (
        out.select("text", score_e4(F.col("score")).alias("score_e4"))
        .orderBy(F.desc("score_e4"), F.asc("text"))
    )


_register(
    "ft_highlight_texts",
    _q_highlight_texts,
    _with_nested_cte(
        matched_cte(SearchPart(field="items[].comment", term="p5"), "m0"),
        """pt AS (
  SELECT e.text, max(m.term_score) AS s FROM (
    SELECT DISTINCT d.term_id, tk.text FROM toks tk
    JOIN dict d ON tk.tok = d.term
  ) e JOIN m0 m ON m.term_id = e.term_id GROUP BY e.text
)""",
    )
    + "\nSELECT text, "
    + sql_score_e4("s")
    + " AS score_e4 FROM pt ORDER BY score_e4 DESC, text ASC LIMIT 30",
)


# ---------------------------------------------------------------------------

def fulltext_queries():
    return dict(_QUERIES)


def fulltext_oracles():
    return _finalize_oracles(_ORACLES)


def fulltext_extra_queries():
    return dict(_EXTRA_QUERIES)


def fulltext_extra_oracles():
    return _finalize_oracles(_EXTRA_ORACLES)


def _finalize_oracles(oracles: dict[str, str]) -> dict[str, str]:
    from veloci_spark.oracle import _q
    from veloci_spark.tokenize import sep_class

    seppat = _q("^" + sep_class() + "$")
    return {k: v.replace("{SEPPAT}", seppat) for k, v in oracles.items()}
