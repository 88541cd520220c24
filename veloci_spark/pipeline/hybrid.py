"""Hybrid lexical+dense retrieval with reciprocal-rank fusion (RRF).

The capstone query shape for an engine that carries BOTH a BM25
fulltext core (the north rule) and an embedding ANN family: run a
lexical BM25 top-pool and a dense cosine top-pool for the same
information need, then fuse the two rankings with RRF
(Cormack, Clarke & Buettcher, SIGIR 2009):

    rrf(d) = sum over legs of 1 / (rrf_k + rank_leg(d))

RRF needs only the RANKS, never the incomparable raw scores, which is
exactly why it is the standard production fusion (Elasticsearch/
OpenSearch/Vespa all ship it with the same rrf_k=60 default).

Cross-engine determinism: both legs quantize scores to *_e4 integers
BEFORE ranking (the repo-wide convention), rank on the total order
(score desc, doc_id desc), and each rank's RRF contribution is
quantized to floor(1e6/(rrf_k+rank)) before the integer sum — so the
fused ranking is bit-identical on Spark and DuckDB.

100-TB shape: each leg is an independent bounded top-``pool`` (the
lexical leg's df/dl are map-side-combined groupBys over the token
explode, the dense leg is the brute/SQ8 scan the ANN family already
benches); fusion itself touches <= 2*pool rows — a broadcast-sized
full-outer join. No corpus-sized shuffle and no global window
anywhere: leg ranks are assigned by sort_array+posexplode over the
pool-bounded slice (the tfidf precedent), not a Window.

Reference analog: veloci has no fusion operator (queries boost within
one engine); this extends the engine the way its users extend it —
`boost_term`/phrase pipelines on the lexical side (request.rs) plus
an external vector store — into one plan.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from veloci_spark.bm25 import bm25_e4_expr, sql_bm25_e4
from veloci_spark.pipeline.common import (
    read_fanned,
    sql_e4,
    sql_quote,
    sql_words,
    words_expr,
)
from veloci_spark.pipeline.similarity import (
    _sql_dot,
    _sql_norm2,
    ann_sq8_topk_arrow,
)

#: fixture query: three corpus words with distinct document frequencies
HYBRID_TERMS = ("spark", "merge", "window")
RRF_K = 60          # the Cormack et al. / industry default
HYBRID_POOL = 50    # per-leg candidate pool (top-pool ranks fuse)
RRF_SCALE = 1000000.0


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_fanned(spark, f"{sf_dir}/documents.parquet").where(
        F.col("text").isNotNull()
    )


def _ranked(top: DataFrame, score_col: str, rank_name: str) -> DataFrame:
    """(doc_id, rank_name) for a pool-bounded top slice, window-free:
    one single-row collect_list (bounded by the pool by construction)
    sorted ascending on (-score, -doc_id) = (score desc, doc_id desc),
    position+1 = rank."""
    return (
        top.agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        (-F.col(score_col)).alias("ns"),
                        (-F.col("doc_id")).alias("nid"),
                    )
                )
            ).alias("a")
        )
        .select(F.posexplode("a").alias("pos", "t"))
        .select(
            (-F.col("t.nid")).cast("long").alias("doc_id"),
            (F.col("pos") + 1).cast("long").alias(rank_name),
        )
    )


def bm25_text_topk(
    spark: SparkSession,
    sf_dir: str,
    terms: Sequence[str] = HYBRID_TERMS,
    pool: int = HYBRID_POOL,
) -> DataFrame:
    """On-the-fly BM25 top-``pool`` over documents.text (no prebuilt
    index — the one-shot analytics shape; the indexed engine is
    bm25.py).  (doc_id, bm25_e4), quantize-then-sum per term."""
    # ONE tokenize pass feeding everything (guide §2.3/§2.4): the old
    # shape exploded EVERY token of every doc (10M rows at 50k docs)
    # into a corpus shuffle just to count per-doc lengths, and Catalyst
    # re-evaluated the toks/tf subtrees once per consumer (dl, stats,
    # tf, dfs — four tokenize passes of the corpus).  Instead: per-doc
    # (dl, tf_per_term) columns from one scan (persisted — a few longs
    # per doc), ONE single-row aggregate for n_docs/avgdl/df_w
    # (broadcast back), and a map-side score.  Values are identical:
    # df_w = #docs with tf_w>0, per-term scores e4-quantized THEN
    # integer-summed, and only docs containing >= 1 query term enter
    # the pool (absent terms contribute 0 via the tf>0 guard, exactly
    # like the old per-present-term rows).
    uniq = list(dict.fromkeys(str(t) for t in terms))
    if not uniq:
        return spark.createDataFrame([], "doc_id long, bm25_e4 long")
    words = _docs(spark, sf_dir).select(
        "doc_id", words_expr("text").alias("_w")
    )
    def _tf_count(term):
        # NB: must return a ONE-argument lambda — F.filter binds a
        # second parameter to the array index (the _mh_lambda trap)
        return F.size(F.filter(F.col("_w"), lambda x: x == F.lit(term)))

    per = words.where(F.size("_w") > 0).select(
        "doc_id",
        F.size("_w").alias("dl"),
        *[_tf_count(t).alias(f"_tf{i}") for i, t in enumerate(uniq)],
    ).persist()
    g = per.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*").cast("double")).alias(
            "avgdl"
        ),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("long")).alias(f"_df{i}")
            for i in range(len(uniq))
        ],
    )
    contrib = [
        F.when(
            F.col(f"_tf{i}") > 0,
            bm25_e4_expr(
                F.col(f"_tf{i}"),
                F.col(f"_df{i}"),
                F.col("dl"),
                F.col("n_docs"),
                F.col("avgdl"),
            ),
        ).otherwise(F.lit(0).cast("long"))
        for i in range(len(uniq))
    ]
    total = contrib[0]
    for c in contrib[1:]:
        total = total + c
    present = F.greatest(*[F.col(f"_tf{i}") for i in range(len(uniq))]) > 0 \
        if len(uniq) > 1 else (F.col("_tf0") > 0)
    scored = (
        per.crossJoin(F.broadcast(g))
        .where(present)
        .select("doc_id", total.cast("long").alias("bm25_e4"))
    )
    out = scored.orderBy(F.desc("bm25_e4"), F.desc("doc_id")).limit(pool)
    out._veloci_unpersist = per.unpersist  # type: ignore[attr-defined]
    return out


def _rrf_contrib(rank_col: str) -> F.Column:
    return F.coalesce(
        F.floor(F.lit(RRF_SCALE) / (F.lit(RRF_K) + F.col(rank_col))).cast(
            "long"
        ),
        F.lit(0).cast("long"),
    )


def hybrid_rrf_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = 20,
    terms: Sequence[str] = HYBRID_TERMS,
    query_vec_id: int = 0,
    pool: int = HYBRID_POOL,
    dense_leg=None,
) -> DataFrame:
    """RRF fusion of the BM25 lexical top-``pool`` and the cosine dense
    top-``pool`` (vec_id keys the same corpus as doc_id).  Returns
    (doc_id, rrf_e6, lex_rank, dense_rank) — rank 0 marks a doc the
    leg's pool missed (contribution 0, the RRF convention; 0 rather
    than NULL so the driver's row hash sorts a total value domain).

    ``dense_leg`` swaps the brute-force cosine scan for any
    (spark, sf_dir, k, query_vec_id) -> (vec_id, cos_e4) retriever —
    the SQ8 variant is registered as the scale path."""
    lex_top = bm25_text_topk(spark, sf_dir, terms=terms, pool=pool)
    lex = _ranked(lex_top, "bm25_e4", "lex_rank")
    if dense_leg is None:
        from veloci_spark.pipeline.similarity import ann_cosine_topk

        dense_leg = ann_cosine_topk
    dense_top = dense_leg(
        spark, sf_dir, k=pool, query_vec_id=query_vec_id
    ).withColumnRenamed("vec_id", "doc_id")
    dense = _ranked(dense_top, "cos_e4", "dense_rank")
    fused = lex.join(dense, "doc_id", "full_outer")
    out = (
        fused.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            (_rrf_contrib("lex_rank") + _rrf_contrib("dense_rank"))
            .cast("long")
            .alias("rrf_e6"),
            F.coalesce(F.col("lex_rank"), F.lit(0))
            .cast("long")
            .alias("lex_rank"),
            F.coalesce(F.col("dense_rank"), F.lit(0))
            .cast("long")
            .alias("dense_rank"),
        )
        .orderBy(F.desc("rrf_e6"), F.desc("doc_id"))
        .limit(k)
    )
    if hasattr(lex_top, "_veloci_unpersist"):
        out._veloci_unpersist = lex_top._veloci_unpersist  # type: ignore[attr-defined]
    return out


def hybrid_rrf_sq8_topk(
    spark: SparkSession, sf_dir: str, k: int = 20
) -> DataFrame:
    """The scale path: dense leg = the SQ8 Arrow ADC scan (4x smaller
    candidate table) instead of the brute float scan.  Same fusion,
    same oracle construction."""
    return hybrid_rrf_topk(
        spark, sf_dir, k=k, dense_leg=ann_sq8_topk_arrow
    )


# ------------------------------------------------------------- oracles

def _sql_dense_brute(pool: int) -> str:
    cos = (
        _sql_dot("embedding", "qvec")
        + " / (sqrt("
        + _sql_norm2("embedding")
        + ") * sqrt("
        + _sql_norm2("qvec")
        + "))"
    )
    return f"""
  SELECT vec_id AS doc_id, {sql_e4(cos)} AS cos_e4
  FROM embeddings, (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
  ORDER BY cos_e4 DESC, doc_id DESC LIMIT {pool}
"""


def hybrid_rrf_sql(
    k: int = 20,
    terms: Sequence[str] = HYBRID_TERMS,
    pool: int = HYBRID_POOL,
    dense_sql: str | None = None,
) -> str:
    in_list = ", ".join(sql_quote(t) for t in terms)
    dense = dense_sql if dense_sql is not None else _sql_dense_brute(pool)
    contrib = (
        lambda r: f"COALESCE(CAST(floor({RRF_SCALE!r} / ({RRF_K} + {r})) AS BIGINT), 0)"
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({sql_words('text')}) AS w
  FROM documents WHERE text IS NOT NULL
),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
st AS (SELECT count(*) AS n_docs,
              CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
       FROM dl),
tf AS (SELECT doc_id, w, count(*) AS tf FROM toks
       WHERE w IN ({in_list}) GROUP BY doc_id, w),
dfs AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
lex AS (
  SELECT doc_id,
    CAST(SUM({sql_bm25_e4('tf', 'df', 'dl', 'n_docs', 'avgdl')}) AS BIGINT) AS bm25_e4
  FROM tf JOIN dfs USING (w) JOIN dl USING (doc_id), st
  GROUP BY doc_id
  ORDER BY bm25_e4 DESC, doc_id DESC LIMIT {pool}
),
lexr AS (
  SELECT doc_id,
    row_number() OVER (ORDER BY bm25_e4 DESC, doc_id DESC) AS lex_rank
  FROM lex
),
densetop AS ({dense}),
denser AS (
  SELECT doc_id,
    row_number() OVER (ORDER BY cos_e4 DESC, doc_id DESC) AS dense_rank
  FROM densetop
)
SELECT
  CAST(COALESCE(l.doc_id, d.doc_id) AS BIGINT) AS doc_id,
  CAST({contrib('l.lex_rank')} + {contrib('d.dense_rank')} AS BIGINT) AS rrf_e6,
  CAST(COALESCE(l.lex_rank, 0) AS BIGINT) AS lex_rank,
  CAST(COALESCE(d.dense_rank, 0) AS BIGINT) AS dense_rank
FROM lexr l FULL OUTER JOIN denser d ON l.doc_id = d.doc_id
ORDER BY rrf_e6 DESC, doc_id DESC LIMIT {k}
"""


def hybrid_rrf_sq8_sql(k: int = 20, pool: int = HYBRID_POOL) -> str:
    from veloci_spark.pipeline.similarity import ann_sq8_sql

    dense = f"""
  SELECT vec_id AS doc_id, cos_e4 FROM ({ann_sq8_sql(k=pool)})
"""
    return hybrid_rrf_sql(k=k, pool=pool, dense_sql=dense)


def queries():
    return {"hybrid_rrf": hybrid_rrf_topk}


def oracles():
    return {"hybrid_rrf": hybrid_rrf_sql()}


def extra_queries():
    return {"hybrid_rrf_sq8": hybrid_rrf_sq8_topk}


def extra_oracles():
    return {"hybrid_rrf_sq8": hybrid_rrf_sq8_sql()}
